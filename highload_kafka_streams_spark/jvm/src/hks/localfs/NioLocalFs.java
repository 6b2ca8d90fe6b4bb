package hks.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;

/** The checksummed {@code file:} {@code AbstractFileSystem} (FileContext API) over {@link NioRawLocalFs}. */
public class NioLocalFs extends ChecksumFs {

  NioLocalFs(URI theUri, Configuration conf) throws IOException, URISyntaxException {
    super(new NioRawLocalFs(theUri, conf));
  }
}
