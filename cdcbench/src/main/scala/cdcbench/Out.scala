package cdcbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.Row
import graft.sinks.{KafkaDirectWriter, MockKafkaBroker, Sinks}

/** One delivered message, as the output check compares it: the restart
  * position and a digest of the value bytes. */
final case class Delivered(cScn: Long, cIdx: Long, d0: Long, d1: Long)

object Delivered {
  def of(cScn: Long, cIdx: Long, value: Array[Byte]): Delivered = {
    val h = MessageDigest.getInstance("MD5").digest(value)
    val bb = java.nio.ByteBuffer.wrap(h)
    Delivered(cScn, cIdx, bb.getLong, bb.getLong)
  }
}

/** What one sink call did: when each chunk was confirmed and which commit
  * scns it carried, plus bytes and produce requests. */
final case class Confirmed(chunks: Seq[(Long, Array[Long])], msgs: Int,
    bytes: Long, requests: Int)

/** A sink the benchmark drives with envelope rows (key, value, c_scn,
  * c_idx), sorted by restart position, with [[Sinks.ConfirmTracker]]
  * advancing the confirmed position. `delivered` reads back what the sink
  * really holds (files on disk, or the broker's log). */
trait Out {
  def write(rows: Array[Row]): Confirmed
  def delivered(): Seq[Delivered]
  def close(): Unit
  val tracker = new Sinks.ConfirmTracker
}

object Out {
  /** Rows must arrive in ascending (c_scn, c_idx) for the tracker. */
  def sorted(rows: Array[Row]): Array[Row] =
    rows.sortBy(r => (r.getLong(2), r.getLong(3)))

  private val Head = """^\{"c_scn":(\d+),"c_idx":(\d+),""".r.unanchored

  /** JSON envelope into the rotating file writer, with the reference's
    * 1 MiB write buffer; a batch is confirmed when its flush returns. */
  final class File(dir: String) extends Out {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    private val w = new Sinks.RotatingFileWriter(s"$dir/cdc-%6i.json",
      maxFileSize = 16L << 20, flushSize = 1L << 20)

    def write(rows: Array[Row]): Confirmed = {
      if (rows.isEmpty) return Confirmed(Nil, 0, 0L, 0)
      var bytes = 0L
      rows.foreach { r =>
        val v = r.getString(1)
        tracker.sent(r.getLong(2), r.getLong(3))
        w.write(v)
        bytes += v.length + 1
      }
      w.flush()
      val last = rows.last
      tracker.confirmUpTo(last.getLong(2), last.getLong(3))
      require(tracker.confirmed.contains((last.getLong(2), last.getLong(3))))
      Confirmed(Seq((nowNs(), rows.map(_.getLong(2)))), rows.length, bytes, 1)
    }

    def delivered(): Seq[Delivered] = {
      val files = Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("cdc-")).sortBy(_.getName)
      files.flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().map { l =>
          l match {
            case Head(s, i) => Delivered.of(s.toLong, i.toLong, l.getBytes(UTF_8))
            case _ => Delivered(-1L, -1L, 0L, 0L) // unparseable: a mismatch
          }
        }.toVector finally src.close()
      }
    }

    def close(): Unit = w.flush()
  }

  /** Protobuf envelope into the in-process broker over the Kafka wire
    * protocol; each produce response confirms its chunk. */
  final class Kafka(broker: MockKafkaBroker, topic: String, chunk: Int = 1000)
      extends Out {
    private val w = new KafkaDirectWriter("127.0.0.1", broker.port, topic)

    def write(rows: Array[Row]): Confirmed = {
      var bytes = 0L
      var reqs = 0
      val chunks = rows.grouped(chunk).map { part =>
        val recs = part.map { r =>
          tracker.sent(r.getLong(2), r.getLong(3))
          val k = Option(r.getString(0)).map(_.getBytes(UTF_8)).orNull
          val v = r.getAs[Array[Byte]](1)
          bytes += v.length + (if (k == null) 0 else k.length)
          (k, v)
        }
        w.send(recs.toSeq)
        reqs += 1
        val last = part.last
        tracker.confirmUpTo(last.getLong(2), last.getLong(3))
        (nowNs(), part.map(_.getLong(2)))
      }.toVector
      Confirmed(chunks, rows.length, bytes, reqs)
    }

    def delivered(): Seq[Delivered] =
      broker.records.iterator.filter(_._1 == topic).map { case (_, _, _, v) =>
        val (s, i) = positionOf(v)
        Delivered.of(s, i, v)
      }.toVector

    def close(): Unit = w.close()
  }

  def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** (c_scn, c_idx) = fields 10 and 11 of a RedoResponse. */
  def positionOf(b: Array[Byte]): (Long, Long) = {
    var p = 0
    var scn = -1L
    var idx = -1L
    def varint(): Long = {
      var r = 0L
      var s = 0
      var more = true
      while (more) {
        val x = b(p); p += 1
        r |= (x & 0x7fL) << s
        s += 7
        more = (x & 0x80) != 0
      }
      r
    }
    while (p < b.length) {
      val key = varint()
      val field = (key >>> 3).toInt
      (key & 7).toInt match {
        case 0 =>
          val v = varint()
          if (field == 10) scn = v else if (field == 11) idx = v
        case 2 =>
          val n = varint().toInt // read before p moves past the bytes
          p += n
        case 1 => p += 8
        case 5 => p += 4
        case w => throw new IllegalStateException(s"wire type $w")
      }
    }
    (scn, idx)
  }
}
