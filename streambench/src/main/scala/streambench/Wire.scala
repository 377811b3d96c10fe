package streambench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import graft.gen.ChurnDataGen
import graft.schemas.Schemas._
import graft.stream.Pipelines

/** Seeded wire input: `ChurnDataGen` records rendered as Kafka-shaped
  * JSON lines (`value`, `topic`) and cut into fixed-size files.
  *
  * The four entity streams are interleaved by their relative position
  * (record i of n goes to slot i/n), so every file carries all four
  * topics in the proportions the generator produces them. */
object Wire {

  /** Entity name (Pipelines.Topics key) per line, and the line itself. */
  final case class Record(entity: String, line: String)

  /** One wire file: its lines and the per-entity event counts. */
  final case class WireFile(name: String, bytes: Array[Byte],
                            counts: Map[String, Int])

  /** Events ChurnDataGen emits per tick, on average (1 profile, 1 usage,
    * 1 transaction, ~0.1 tickets, plus the injected duplicates). */
  private val EventsPerTick = 3.2

  private def q(s: String): String =
    if (s == null) "null" else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def ts(t: java.sql.Timestamp): String =
    if (t == null) "null"
    else "\"" + t.toString.replace(' ', 'T').takeWhile(_ != '.') + "\""
  private def num(n: Any): String = if (n == null) "null" else n.toString

  def usageJson(u: AppUsage): String =
    s"""{"customer_id":${q(u.customer_id)},"last_login":${ts(u.last_login)},""" +
      s""""sessions_last_30d":${num(u.sessions_last_30d)},"event_time":${ts(u.event_time)}}"""

  def transactionJson(t: Transaction): String =
    s"""{"customer_id":${q(t.customer_id)},"event_type":${q(t.event_type)},""" +
      s""""timestamp":${ts(t.timestamp)},"value":${num(t.value)}}"""

  def ticketJson(t: SupportTicket): String =
    s"""{"ticket_id":${q(t.ticket_id)},"customer_id":${q(t.customer_id)},""" +
      s""""issue":${q(t.issue)},"priority":${q(t.priority)},"status":${q(t.status)},""" +
      s""""created_at":${ts(t.created_at)},"updated_at":${ts(t.updated_at)},""" +
      s""""assigned_to":${q(t.assigned_to)},"resolution_time":${q(t.resolution_time)}}"""

  /** The first `n` wire records for `seed`, interleaved across topics. */
  def records(seed: Long, n: Int): Seq[Record] = {
    val b = ChurnDataGen.generate(math.ceil(n / EventsPerTick).toInt + 64, seed)
    val streams: Seq[(String, IndexedSeq[String])] = Seq(
      "profiles" -> b.profiles.map(ChurnDataGen.profileJson).toIndexedSeq,
      "usage" -> b.usage.map(usageJson).toIndexedSeq,
      "churn" -> b.transactions.map(transactionJson).toIndexedSeq,
      "support" -> b.tickets.map(ticketJson).toIndexedSeq)
    streams.flatMap { case (e, lines) =>
      val topic = Pipelines.Topics(e)
      lines.zipWithIndex.map { case (l, i) =>
        ((i + 0.5) / lines.length, e,
          s"""{"value":${q(l)},"topic":${q(topic)}}""")
      }
    }.sortBy(r => (r._1, r._2)).take(n).map(r => Record(r._2, r._3))
  }

  /** Cut `recs` into files of `perFile` lines each, numbered from `first`. */
  def files(recs: Seq[Record], perFile: Int, first: Int = 0): IndexedSeq[WireFile] =
    recs.grouped(perFile).zipWithIndex.map { case (chunk, i) =>
      WireFile(f"part-${first + i}%06d.json",
        chunk.map(_.line).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
        chunk.groupBy(_.entity).map { case (e, rs) => e -> rs.size })
    }.toIndexedSeq

  /** Write `f` into the staging directory `stage`. */
  def write(f: WireFile, stage: File): Unit =
    Files.write(new File(stage, f.name).toPath, f.bytes)

  /** Move a staged file into `dir` atomically, so the file source never
    * lists a half-written file. */
  def move(f: WireFile, stage: File, dir: File): Unit =
    Files.move(new File(stage, f.name).toPath, new File(dir, f.name).toPath,
      StandardCopyOption.ATOMIC_MOVE)

  def publish(f: WireFile, stage: File, dir: File): Unit = {
    write(f, stage)
    move(f, stage, dir)
  }
}
