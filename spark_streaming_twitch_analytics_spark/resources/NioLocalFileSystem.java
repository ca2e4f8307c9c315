package graft;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Spark's {@code file:} filesystem (checksummed {@code LocalFileSystem}: same
 * {@code .crc} twins and {@code FileSystem.getLocal} cast) whose raw layer
 * sets permissions in-process. Without libhadoop the stock
 * {@code RawLocalFileSystem.setPermission} forks {@code chmod} for every file
 * and directory it creates.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /**
   * No rename onto an existing file, as HDFS and the class Spark's jars
   * register for {@code file:} (Hive's ProxyLocalFileSystem) do; the raw
   * local rename would replace it.
   */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission perm) throws IOException {
      if (perm.getStickyBit()) { // NIO's permission set has no sticky bit
        super.setPermission(p, perm);
        return;
      }
      Files.setPosixFilePermissions(
          pathToFile(p).toPath(), PosixFilePermissions.fromString(perm.toString()));
    }
  }
}
