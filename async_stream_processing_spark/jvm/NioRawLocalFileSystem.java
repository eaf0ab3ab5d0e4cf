package asyncstream.localfs;

import java.io.File;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * {@link RawLocalFileSystem} that sets modes and reads link status
 * in-process.  Without libhadoop the stock class forks {@code chmod} for
 * every created file or directory and {@code readlink} for every link
 * status; the results here are the same.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    int mode = permission.toShort();
    java.nio.file.Path file = pathToFile(p).toPath();
    if ((mode & ~0777) != 0 || keepsSetIdBits(file)) {
      super.setPermission(p, permission);  // sticky/setuid modes: stock chmod
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    Files.setPosixFilePermissions(file, perms);
  }

  /** A four-digit {@code chmod} keeps a directory's setuid/setgid bits. */
  private static boolean keepsSetIdBits(java.nio.file.Path file) throws IOException {
    int st = (Integer) Files.getAttribute(file, "unix:mode");
    return (st & 0170000) == 0040000 && (st & 06000) != 0;
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    // The stock code returns exactly this when `readlink` prints nothing.
    if (!Files.isSymbolicLink(new File(f.toString()).toPath())) {
      return getFileStatus(f);
    }
    return super.getFileLinkStatus(f);
  }
}
