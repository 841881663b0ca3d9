package crane.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/** The checksummed {@code file:} FileSystem over {@link NoForkRawLocalFileSystem}. */
public class NoForkLocalFileSystem extends LocalFileSystem {

  public NoForkLocalFileSystem() {
    super(new NoForkRawLocalFileSystem());
  }
}
