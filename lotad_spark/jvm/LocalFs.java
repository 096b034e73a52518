package lotad_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsAction;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system, setting permissions in-process.
 *
 * <p>Without Hadoop's native library, RawLocalFileSystem.setPermission runs
 * a {@code chmod} process for every directory and file a write creates
 * (_temporary, attempt directories, part files and their .crc files). This
 * subclass makes the same chmod system call through
 * {@link Files#setPosixFilePermissions}. A permission with the sticky bit,
 * which that call cannot set, and a file system without POSIX attributes
 * take Hadoop's own path.
 *
 * <p>session.get_spark installs it as {@code fs.file.impl} when the master is
 * local, with this jar on the driver class path (Hadoop loads the class by
 * name, outside the session's jar class loader).
 */
public final class LocalFs extends LocalFileSystem {
  public LocalFs() {
    super(new InProcessPermissions());
  }

  static final class InProcessPermissions extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      add(perms, permission.getUserAction(), PosixFilePermission.OWNER_READ,
          PosixFilePermission.OWNER_WRITE, PosixFilePermission.OWNER_EXECUTE);
      add(perms, permission.getGroupAction(), PosixFilePermission.GROUP_READ,
          PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE);
      add(perms, permission.getOtherAction(), PosixFilePermission.OTHERS_READ,
          PosixFilePermission.OTHERS_WRITE, PosixFilePermission.OTHERS_EXECUTE);
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);
      }
    }

    private static void add(Set<PosixFilePermission> perms, FsAction action,
        PosixFilePermission read, PosixFilePermission write, PosixFilePermission execute) {
      if (action.implies(FsAction.READ)) {
        perms.add(read);
      }
      if (action.implies(FsAction.WRITE)) {
        perms.add(write);
      }
      if (action.implies(FsAction.EXECUTE)) {
        perms.add(execute);
      }
    }
  }
}
