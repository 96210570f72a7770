package aslspark.fs;

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
 * RawLocalFileSystem whose two forking calls run in-process. Without the
 * native libhadoop, the stock class runs chmod(1) in setPermission (once per
 * file, .crc sidecar and directory it creates) and readlink(1) in
 * getFileLinkStatus (every FileContext status check and rename).
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    java.nio.file.Path path = pathToFile(p).toPath();
    int mode = permission.toShort();
    // chmod(1) keeps a directory's setuid/setgid bits, chmod(2) clears them:
    // leave those directories, and modes beyond 0777, to chmod(1).
    int old = (Integer) Files.getAttribute(path, "unix:mode");
    if ((mode & ~0777) != 0 || ((old & 0170000) == 0040000 && (old & 06000) != 0)) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (PosixFilePermission bit : PosixFilePermission.values()) {
      if ((mode & (0400 >> bit.ordinal())) != 0) {
        perms.add(bit);
      }
    }
    Files.setPosixFilePermissions(path, perms);
  }

  @Override
  public FileStatus getFileLinkStatus(Path p) throws IOException {
    if (!Files.isSymbolicLink(pathToFile(p).toPath())) {
      return getFileStatus(p);
    }
    return super.getFileLinkStatus(p);
  }
}
