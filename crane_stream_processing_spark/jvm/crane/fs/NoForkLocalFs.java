package crane.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.FsConstants;

/**
 * The checksummed {@code file:} AbstractFileSystem over
 * {@link NoForkRawLocalFs}. Like Hadoop's {@code LocalFs}, it roots the
 * raw filesystem at {@code file:///} whatever URI FileContext passes.
 */
public class NoForkLocalFs extends ChecksumFs {

  public NoForkLocalFs(URI uri, Configuration conf)
      throws IOException, URISyntaxException {
    super(new NoForkRawLocalFs(FsConstants.LOCAL_FS_URI, conf));
  }
}
