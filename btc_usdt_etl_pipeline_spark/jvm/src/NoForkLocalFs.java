package btc_usdt_etl_pipeline_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;

/** {@code file://} through {@code FileContext}: the checksummed {@link NoForkRawLocalFs}. */
public class NoForkLocalFs extends ChecksumFs {
  NoForkLocalFs(URI theUri, Configuration conf) throws IOException, URISyntaxException {
    super(new NoForkRawLocalFs(theUri, conf));
  }
}
