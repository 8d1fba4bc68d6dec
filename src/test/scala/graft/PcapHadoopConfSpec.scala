package graft

import org.apache.hadoop.fs.RawLocalFileSystem

/** The local filesystem under a scheme of its own, so a path on it opens
  * only where the Hadoop conf names this class (`SparkSpec` registers it
  * through `spark.hadoop.fs.graftlocal.impl`, with the FileSystem cache off
  * for the scheme, so every lookup reads its own conf). */
class SchemeOnlyFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${SchemeOnlyFs.Scheme}:///")
  override def getScheme: String = SchemeOnlyFs.Scheme
}

object SchemeOnlyFs {
  val Scheme = "graftlocal"
}

/** The pcap scan takes its Hadoop conf from the session: path expansion,
  * statistics, both split planners and the executor-side readers all see
  * a filesystem registered through `spark.hadoop.*`. */
class PcapHadoopConfSpec extends SparkSpec {

  private val fixPcap = s"${SchemeOnlyFs.Scheme}://" + getClass.getResource("/fix.pcap").getPath

  test("a filesystem registered through spark.hadoop.* serves the whole scan") {
    val whole = spark.read.format("pcap").load(fixPcap)
    assert(whole.count() === 485)
    for (mode <- Seq("index", "resync")) {
      val split = spark.read.format("pcap")
        .option("split", "64k").option("split.mode", mode).load(fixPcap)
      assert(split.rdd.getNumPartitions > 1, mode)
      assert(split.count() === 485, mode)
    }
  }
}
