package crane.fs;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local filesystem without its two per-call process forks.
 * Without the native Hadoop library, RawLocalFileSystem runs {@code chmod}
 * in {@code setPermission} (every create and mkdir) and {@code readlink} in
 * {@code getFileLinkStatus} (every FileContext rename). Both are answered
 * here through java.nio; a mode with bits above 0777 and a path that is a
 * symlink still take Hadoop's own code.
 */
public class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    int mode = permission.toShort();
    if ((mode & ~0777) != 0) {
      super.setPermission(p, permission); // sticky, setuid or setgid
      return;
    }
    // PosixFilePermission declares OWNER_READ (0400) first and
    // OTHERS_EXECUTE (0001) last.
    Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
    for (PosixFilePermission bit : PosixFilePermission.values()) {
      if ((mode & (0400 >> bit.ordinal())) != 0) {
        bits.add(bit);
      }
    }
    try {
      Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
    } catch (NoSuchFileException e) {
      throw new FileNotFoundException("File " + p + " does not exist");
    }
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    // Hadoop returns getFileStatus for a file or directory that is not a
    // link, and its FileNotFoundException for a missing path.
    return getFileStatus(f);
  }
}
