package userfeed.localfs;

import java.io.File;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * RawLocalFileSystem without the per-file helper processes. Without
 * libhadoop the stock class runs {@code chmod} for every file create,
 * checksum create and mkdir, and {@code readlink} for every link-status
 * lookup (each rename). Both are done here through java.nio with the
 * same result; anything this class cannot reproduce goes to the stock
 * code.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  private static final int S_IFMT = 0170000;
  private static final int S_IFDIR = 0040000;
  private static final int S_ISUID_ISGID = 06000;

  /**
   * One chmod(2) with the mode {@code chmod %04o} computes: the
   * permission bits and the sticky bit as given, and, like GNU chmod
   * for a four-digit mode, a directory's set-user/group-ID bits kept.
   */
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    java.nio.file.Path file = pathToFile(p).toPath();
    int mode = permission.toShort() & 07777;
    try {
      int old = (Integer) Files.getAttribute(file, "unix:mode");
      if ((old & S_IFMT) == S_IFDIR) {
        mode |= old & S_ISUID_ISGID;
      }
      Files.setAttribute(file, "unix:mode", mode);
    } catch (UnsupportedOperationException e) {
      super.setPermission(p, permission);  // no "unix" attribute view
    }
  }

  /**
   * The stock method runs {@code readlink} on {@code new File(f.toString())}
   * and, when that is not a link, returns {@code getFileStatus(f)}; the
   * lstat below makes the same test without the process.
   */
  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    try {
      if (!Files.isSymbolicLink(new File(f.toString()).toPath())) {
        return getFileStatus(f);
      }
    } catch (InvalidPathException e) {
      // not a name the platform can hold: let the stock code decide
    }
    return super.getFileLinkStatus(f);
  }
}
