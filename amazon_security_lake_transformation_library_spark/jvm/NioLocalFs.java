package aslspark.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;

/**
 * FileContext's checksummed local fs (stock: LocalFs), the one streaming
 * checkpoints and the state store write through.
 */
public class NioLocalFs extends ChecksumFs {
  NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new NioRawLocalFs(uri, conf));
  }
}
