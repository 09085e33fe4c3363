package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.RawLocalFileSystem

/** A local filesystem that reports another scheme (`s3a`, `hdfs`, …),
  * so scheme-dispatched code can be driven down its object-store and
  * HDFS branches on a local disk. Paths handed to it carry no scheme
  * and resolve to local files. */
final class SchemeLocalFs(scheme: String) extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"$scheme:///")
}

object SchemeLocalFs {
  def apply(scheme: String): SchemeLocalFs = {
    val fs = new SchemeLocalFs(scheme)
    fs.initialize(URI.create(s"$scheme:///"), new Configuration())
    fs
  }
}
