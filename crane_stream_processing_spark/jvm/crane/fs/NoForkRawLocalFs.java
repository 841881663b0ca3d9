package crane.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * The raw {@code file:} AbstractFileSystem (FileContext's view) over
 * {@link NoForkRawLocalFileSystem}. Mirrors Hadoop's
 * {@code org.apache.hadoop.fs.local.RawLocalFs}, whose constructors are
 * package-private.
 */
public class NoForkRawLocalFs extends DelegateToFileSystem {

  public NoForkRawLocalFs(URI uri, Configuration conf)
      throws IOException, URISyntaxException {
    super(uri, new NoForkRawLocalFileSystem(), conf,
        FsConstants.LOCAL_FS_URI.getScheme(), false);
  }

  @Override
  public int getUriDefaultPort() {
    return -1; // file:/// has no port
  }

  @Override
  @Deprecated
  public FsServerDefaults getServerDefaults() throws IOException {
    return LocalConfigKeys.getServerDefaults();
  }

  @Override
  public FsServerDefaults getServerDefaults(Path f) throws IOException {
    return LocalConfigKeys.getServerDefaults();
  }

  @Override
  public boolean isValidName(String src) {
    return true; // the OS validates local names
  }
}
