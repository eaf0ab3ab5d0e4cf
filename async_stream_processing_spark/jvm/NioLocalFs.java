package asyncstream.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;

/** The checksummed local {@code AbstractFileSystem}
 * ({@code fs.AbstractFileSystem.file.impl}, used by {@code FileContext})
 * over {@link NioRawLocalFs}; as {@code org.apache.hadoop.fs.local.LocalFs}. */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI uri, Configuration conf)
      throws IOException, URISyntaxException {
    super(new NioRawLocalFs(uri, conf));
  }
}
