package kafkastreamer_spark;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The local FileSystem with an in-process {@code setPermission}. Without
 * libhadoop, {@link RawLocalFileSystem#setPermission} forks a
 * {@code chmod} child of the JVM, and every create and mkdirs calls it.
 * A mode of at most 0777 is set here with the same {@code chmod(2)};
 * a higher bit (sticky, setuid) still goes through Hadoop.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  static final class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if (mode > 0777) {
        super.setPermission(p, permission);
        return;
      }
      // BITS runs OWNER_READ ... OTHERS_EXECUTE, mode bits 0400 ... 0001
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
