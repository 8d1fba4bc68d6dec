package graft.sources.pcap

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Micro-batch streaming over a capture DIRECTORY: each new pcap file that
  * appears becomes part of the next micro-batch — i.e. `readStream
  * .format("pcap").load(dir)` tails a rolling-capture directory (the shape
  * tcpdump/dumpcap `-G`/`-b` rotation produces).
  *
  * The reference explicitly does not support live capture (README
  * roadmap, `README.md:37-38`); this is the Spark-native answer: capture
  * rotation + file streaming, with every batch flowing through the same
  * dissector/scan code as the batch source.
  *
  * Exactly-once: the batch → file-set assignment is persisted to a file
  * log under the query's checkpoint location (one atomically-renamed
  * file per batch id, like Spark's own FileStreamSource log). On restart
  * the log is replayed, so a batch re-executed after failure reads
  * exactly the files it read before, and already-committed files are
  * never re-assigned — combined with Spark's idempotent sinks this gives
  * end-to-end exactly-once (was: in-memory seen-set, at-least-once).
  */
final class PcapMicroBatchStream(
    schema: StructType,
    options: CaseInsensitiveStringMap,
    checkpointLocation: String)
    extends MicroBatchStream {

  private final case class PcapOffset(batchId: Long) extends Offset {
    override def json(): String = batchId.toString
  }

  private val shipped = PcapTable.hadoopConf(options)
  private val conf = shipped.value.value
  private val logDir = new Path(checkpointLocation, "pcap-file-log")
  private val fs = logDir.getFileSystem(conf)

  private val seen = mutable.HashSet.empty[String]
  private val batches = mutable.HashMap.empty[Long, Seq[String]]
  private var lastBatch = -1L

  // recovery: replay the persisted batch → files log
  locally {
    if (fs.exists(logDir)) {
      fs.listStatus(logDir).foreach { st =>
        st.getPath.getName.toLongOption.foreach { b =>
          val files = readLogFile(st.getPath)
          batches(b) = files
          seen ++= files
          if (b > lastBatch) lastBatch = b
        }
      }
    } else fs.mkdirs(logDir)
  }

  private def readLogFile(p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  private def writeLogFile(b: Long, files: Seq[String]): Unit = {
    val tmp = new Path(logDir, s".$b.tmp")
    val out = fs.create(tmp, true)
    try out.write(files.mkString("\n").getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, new Path(logDir, b.toString)))
      throw new java.io.IOException(s"pcap stream: failed to commit file log for batch $b")
  }

  private def discover(): Seq[String] =
    PcapTable.expand(PcapTable.paths(options), conf).sorted

  override def initialOffset(): Offset = PcapOffset(-1L)

  override def latestOffset(): Offset = synchronized {
    val fresh = discover().filterNot(seen)
    if (fresh.nonEmpty) {
      writeLogFile(lastBatch + 1, fresh) // persist BEFORE exposing the offset
      lastBatch += 1
      batches(lastBatch) = fresh
      seen ++= fresh
    }
    PcapOffset(lastBatch)
  }

  override def deserializeOffset(json: String): Offset = PcapOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PcapOffset].batchId
    val e = end.asInstanceOf[PcapOffset].batchId
    val climit = PcapTable.climit(options)
    synchronized {
      ((s + 1) to e).flatMap { b =>
        batches.get(b).orElse {
          // replanned after restart beyond what recovery saw: read the log
          val p = new Path(logDir, b.toString)
          if (fs.exists(p)) Some(readLogFile(p)) else None
        }.getOrElse(Seq.empty)
      }.map(f => PcapInputPartition(f, climit): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    PcapTable.readerFactory(schema, options, Array.empty, shipped)

  override def commit(end: Offset): Unit = synchronized {
    // the durable log stays for replay-after-restart; the in-memory copy
    // of committed batches is droppable (planInputPartitions re-reads the
    // log on demand) — without this the map grows for the stream's life
    val e = end.asInstanceOf[PcapOffset].batchId
    batches.keys.filter(_ <= e).toSeq.foreach(batches.remove)
  }

  override def stop(): Unit = ()
}
