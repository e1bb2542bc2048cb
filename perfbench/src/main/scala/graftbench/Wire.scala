package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

/** One change event as a connector emits it onto the wire. `offset` is the
  * message's log position and becomes the changelog `seq`. */
final case class Event(
    table: String, offset: Long, op: String, userId: Long,
    value: Double, tsMs: Long, poisoned: Boolean)

/** The benchmark's connector stand-in: Debezium-shaped JSON lines of
  * (topic, offset, value), written the way a connector flush leaves them. */
object Wire {

  def envelope(e: Event): String = {
    val row = s"""{"user_id":${e.userId},"event_type":"${e.table}","value":${e.value}}"""
    val (before, after) = if (e.op == "d") (row, "null") else ("null", row)
    s"""{"before":$before,"after":$after,""" +
      s""""source":{"db":"graft","schema":"public","table":"events","ts_ms":${e.tsMs}},""" +
      s""""op":"${e.op}","ts_ms":${e.tsMs}}"""
  }

  /** A poisoned message carries a truncated envelope, which no JSON parser
    * accepts. */
  def line(e: Event): String = {
    val env = envelope(e)
    val body = if (e.poisoned) env.substring(0, env.length - 5) else env
    s"""{"topic":"graft.public.${e.table}","offset":${e.offset},"value":"${body.replace("\"", "\\\"")}"}"""
  }

  def dropName(i: Int): String = f"drop-$i%06d.json"

  /** Write one drop atomically: a hidden temp file the file source skips,
    * then a rename into the watched directory. */
  def writeDrop(dir: Path, i: Int, events: Seq[Event]): Unit = {
    val name = dropName(i)
    val tmp = dir.resolve("." + name + ".tmp")
    val sb = new java.lang.StringBuilder(events.size * 256)
    events.foreach(e => sb.append(line(e)).append('\n'))
    Files.writeString(tmp, sb)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Files of each source batch, read from the checkpoint's file-source
    * log: numbered batch files plus the `N.compact` files that fold every
    * earlier batch into one. The same parse backs the report's latency
    * attribution (benchlib/checkpoint.py). */
  def sourceLog(checkpoint: Path): Map[Long, Seq[String]] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    val out = scala.collection.mutable.HashMap.empty[Long, Vector[String]]
    if (Files.isDirectory(dir)) {
      val files = Files.list(dir)
      try files.iterator().forEachRemaining { f =>
        val n = f.getFileName.toString
        if (!n.startsWith(".") && n.stripSuffix(".compact").forall(_.isDigit)) {
          Files.readAllLines(f).forEach { l =>
            if (l.startsWith("{")) {
              val m = Json.mapper.readTree(l)
              val b = m.get("batchId").asLong()
              val p = m.get("path").asText()
              val name = p.substring(p.lastIndexOf('/') + 1)
              val cur = out.getOrElse(b, Vector.empty)
              if (!cur.contains(name)) out(b) = cur :+ name
            }
          }
        }
      } finally files.close()
    }
    out.toMap
  }
}
