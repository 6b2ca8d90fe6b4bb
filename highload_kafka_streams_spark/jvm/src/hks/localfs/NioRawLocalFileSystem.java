package hks.localfs;

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
 * {@link RawLocalFileSystem} without a forked process per file on hosts
 * that lack the Hadoop native library.
 *
 * <p>{@code setPermission} calls {@code chmod(2)} through NIO instead of
 * running {@code chmod}. The stock {@code getFileLinkStatus} runs
 * {@code readlink} on {@code Path.toString()}, which for a qualified path is a
 * {@code file:}-prefixed string, so the command fails and the result is
 * {@code getFileStatus}; here that call is made directly unless NIO reports a
 * symlink. Modes with the sticky bit, non-POSIX stores and symlinks take the
 * stock path.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** Owner, group, others × read, write, execute: the order of mode bits 0400 down to 01. */
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    if ((mode & ~0777) == 0) {
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < 9; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
        return;
      } catch (UnsupportedOperationException e) {
        // not a POSIX store: fall through to Hadoop's own path
      }
    }
    super.setPermission(p, permission);
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }
}
