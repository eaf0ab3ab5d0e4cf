package asyncstream.localfs;

import org.apache.hadoop.fs.LocalFileSystem;

/** The checksummed local {@code FileSystem} ({@code fs.file.impl}) over
 * {@link NioRawLocalFileSystem}; {@code .crc} files are written and
 * verified as by {@link LocalFileSystem}. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
