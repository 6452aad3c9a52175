package hive_json_spark;

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
 * Hadoop's checksummed {@code file:} filesystem over a raw one that sets
 * permissions with one chmod(2) call. Without libhadoop, RawLocalFileSystem
 * forks chmod(1) for every directory it makes and every file it creates.
 * What a mode can't say as nine rwx bits goes to that chmod(1): a sticky
 * bit, and a directory's set-ID bits, which chmod 0755 keeps and chmod(2)
 * would clear.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      java.nio.file.Path file = pathToFile(p).toPath();
      int now = (int) Files.getAttribute(file, "unix:mode");
      if (permission.getStickyBit() || ((now & 0170000) == 0040000 && (now & 06000) != 0)) {
        super.setPermission(p, permission);
        return;
      }
      short mode = permission.toShort();
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          bits.add(bit);
        }
      }
      Files.setPosixFilePermissions(file, bits);
    }
  }
}
