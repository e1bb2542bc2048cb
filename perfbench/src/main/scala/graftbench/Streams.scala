package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Pipeline, Tables}
import graft.cdc.Materialize
import graft.sinks.TableSink
import graft.sources.WireSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared state of one benchmark run. `raw` collects what the report
  * needs; the report turns it into metrics. */
final class Run(
    val spark: SparkSession, val dataDir: String, val work: Path,
    val seed: Long, val seconds: Int, val spans: Spans) {
  val raw = mutable.LinkedHashMap.empty[String, Any]
  def trace: Boolean = spans.enabled
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** What the two stream workloads share: the changelog shape, the output
  * checks, the reader scan and the traced replays. */
object StreamChecks {

  val poisonShare = 0.001

  /** Well-formed delivered events as a changelog with unit weight. */
  def eventsFrame(spark: SparkSession, events: Seq[Event]): DataFrame = {
    import spark.implicits._
    events.filterNot(_.poisoned)
      .map(e => (e.table, e.op, e.userId, e.tsMs, e.offset, e.value))
      .toDF("table", "op", "pk", "ts_ms", "seq", "value")
      .select(col("table"), col("op"), col("pk"), timestamp_millis(col("ts_ms")).as("ts"),
        col("seq"), col("value"), lit(1L).as("weight"))
  }

  /** Keys of the live state versus the expected snapshot: (keys, mismatched). */
  def compare(expected: DataFrame, live: DataFrame): (Long, Long) = {
    val e = expected.select(col("user_id"), col("last_value").as("e_value"), col("n_changes").as("e_n"))
    val a = live.select(col("user_id"), col("last_value").as("a_value"), col("n_changes").as("a_n"))
    val bad = col("e_n").isNull || col("a_n").isNull ||
      !(col("e_value") <=> col("a_value")) || col("e_n") =!= col("a_n")
    val row = e.join(a, Seq("user_id"), "full_outer")
      .agg(count(lit(1)), sum(when(bad, 1L).otherwise(0L))).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** DLQ offsets as the pipeline wrote them. */
  def dlqOffsets(spark: SparkSession, dlq: Path): Seq[Long] =
    if (!Files.isDirectory(dlq)) Nil
    else spark.read.parquet(dlq.toString).select("offset").collect().map(_.getLong(0)).toSeq.sorted

  /** A downstream reader's full scans of the live state, after `warm`
    * untimed ones (the reader's plan and codegen warm up over the first
    * scans); the report takes the median. */
  def scan(paths: Seq[String], r: Run, warm: Int, timed: Int): Seq[Double] =
    readBack(r, warm, timed) {
      paths.foreach(p => TableSink.readLive(r.spark, p).write.format("noop").mode("overwrite").save())
    }

  def readBack(r: Run, warm: Int, timed: Int)(read: => Unit): Seq[Double] = {
    (1 to warm).foreach(_ => read)
    (1 to timed).map { _ =>
      r.spans("reader.scan") { _ =>
        val t = Clock.ms()
        read
        (Clock.ms() - t) / 1000.0
      }
    }
  }

  /** Data files and bytes of a parquet table directory tree. */
  def footprint(root: Path): (Long, Long) = {
    var n = 0L; var bytes = 0L
    val it = Files.walk(root)
    try it.iterator().forEachRemaining { p =>
      val name = p.getFileName.toString
      if (Files.isRegularFile(p) && name.endsWith(".parquet")) { n += 1; bytes += Files.size(p) }
    } finally it.close()
    (n, bytes)
  }

  /** Traced replay of every source batch: parse its files again
    * (`WireSource.readBatch`) and apply its changelog with
    * `TableSink.upsert` onto a copy of the pre-run state. `target` maps a
    * batch's changelog to the (state path, slice) pairs the live run
    * upserted. */
  def replay(r: Run, ckpt: Path, wire: Path,
      target: DataFrame => Seq[(String, DataFrame)]): Unit = {
    val batches = Wire.sourceLog(ckpt).toSeq.sortBy(_._1)
    val parse = mutable.ArrayBuffer.empty[Double]
    val upsert = mutable.ArrayBuffer.empty[Double]
    batches.foreach { case (b, files) =>
      val glob = wire.toString + "/{" + files.mkString(",") + "}"
      r.spans(s"replay.batch.$b") { id =>
        val t0 = Clock.ms()
        val env = r.spans("cdc.readBatch", id) { _ =>
          val df = WireSource.readBatch(r.spark, glob).cache()
          df.write.format("noop").mode("overwrite").save()
          df
        }
        val t1 = Clock.ms()
        r.spans("sinks.upsert", id) { _ =>
          target(changelogWithTable(env)).foreach { case (path, slice) =>
            if (!slice.isEmpty) TableSink.upsert(r.spark, path, slice)
          }
        }
        val t2 = Clock.ms()
        env.unpersist()
        parse += (t1 - t0) / 1000.0
        upsert += (t2 - t1) / 1000.0
      }
    }
    r.raw("replay_parse_s") = parse.toSeq
    r.raw("replay_upsert_s") = upsert.toSeq
  }

  private def changelogWithTable(env: DataFrame): DataFrame =
    env.where(col("op").isNotNull).select(
      col("table_name"), col("op"),
      coalesce(col("after.user_id"), col("before.user_id")).as("pk"),
      timestamp_millis(col("ts_ms")).as("ts"),
      col("offset").as("seq"),
      coalesce(col("after.value"), col("before.value")).as("value"))

  def copyTree(from: Path, to: Path): Unit = {
    val it = Files.walk(from)
    try it.iterator().forEachRemaining { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally it.close()
  }

  /** Peak resident set size (`VmHWM`) of this JVM in MB. */
  def rssHwmMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def opOf(eventType: String): String = eventType match {
    case "signup" => "c"
    case "error" => "d"
    case _ => "u"
  }
}

/** `stream_steady`: an open loop of wire drops into `Pipeline.start`
  * (single table, DLQ on) over the fixture's own 1,500 keys. A drop is due
  * every 2 s, longer than a warm micro-batch takes (1.3-1.5 s on 4 cpus),
  * so each drop finds the pipeline idle and its latency is the cost of
  * the micro-batch that applies it, not a wait behind another one. */
object Steady {
  import StreamChecks._

  val eventsPerSecond = 1000
  val dropEveryMs = 2000
  /** Micro-batches run before timing; on 4 cpus a micro-batch gets
    * faster over about the first fifteen (JIT, first parquet writes), and
    * after 13 the timed ones are within a few percent of flat. */
  val warmDrops = 13

  def run(r: Run): Unit = {
    val spark = r.spark
    val rng = new java.util.Random(r.seed)
    val fixture = r.spans("setup.fixture") { _ =>
      Tables.load(spark, r.dataDir, "events").orderBy("event_id")
        .select(unix_millis(col("ts")), col("user_id"), col("event_type"), col("value"))
        .collect()
    }
    val keys = fixture.map(_.getLong(1)).distinct.sorted.toIndexedSeq
    val remap = keys.zip(new scala.util.Random(rng).shuffle(keys)).toMap
    // drop boundaries, key remap and poison positions come from the seed only
    var cursor = rng.nextInt(fixture.length)
    var offset = 0L
    val nominal = eventsPerSecond * dropEveryMs / 1000
    def nextDrop(): Vector[Event] = {
      val size = (nominal * (0.9 + 0.2 * rng.nextDouble())).round.toInt
      Vector.fill(size) {
        val f = fixture(cursor)
        cursor = (cursor + 1) % fixture.length
        offset += 1
        Event(f.getString(2), offset, opOf(f.getString(2)), remap(f.getLong(1)),
          f.getDouble(3), f.getLong(0), rng.nextDouble() < poisonShare)
      }
    }
    val timedDrops = math.max(1, r.seconds * 1000 / dropEveryMs)
    val drops = Vector.fill(warmDrops + timedDrops)(nextDrop())

    val wire = r.dir("wire"); val state = r.work.resolve("state")
    val ckpt = r.work.resolve("ckpt"); val dlq = r.work.resolve("dlq")
    val cfg = Pipeline.Config(wire.toString, state.toString, ckpt.toString, dlqPath = Some(dlq.toString))
    val q = r.spans("pipeline.start") { _ => Pipeline.start(spark, cfg) }

    // untimed warm-up: one micro-batch per drop, back to back
    r.spans("setup.warmup") { _ =>
      (0 until warmDrops).foreach { i =>
        Wire.writeDrop(wire, i, drops(i)); q.processAllAvailable()
      }
    }
    val n = drops.size
    val due = new Array[Double](n)
    val written = new Array[Double](n)
    val t0 = Clock.ms() + 20.0
    r.raw("timed_start_ms") = t0
    val generator = new Thread(() => {
      var k = warmDrops
      while (k < n) {
        due(k) = t0 + (k - warmDrops).toDouble * dropEveryMs
        val wait = due(k) - Clock.ms()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
        Wire.writeDrop(wire, k, drops(k))
        written(k) = Clock.ms()
        k += 1
      }
    }, "graftbench-generator")
    r.spans("open_loop") { _ =>
      generator.start()
      generator.join()
      q.processAllAvailable()
    }
    r.raw("timed_end_ms") = Clock.ms()
    q.stop()
    q.awaitTermination()

    r.raw("drops") = drops.indices.map { i =>
      Map("name" -> Wire.dropName(i), "events" -> drops(i).size, "timed" -> (i >= warmDrops),
        "due_ms" -> due(i), "written_ms" -> written(i))
    }
    r.raw("checkpoint") = ckpt.toString
    val all = drops.flatten
    r.raw("events") = all.size
    r.raw("poisoned") = all.filter(_.poisoned).map(_.offset)

    r.spans("check") { _ =>
      val expected = Materialize.latestSnapshot(eventsFrame(spark, all))
      val (keysSeen, bad) = compare(expected, TableSink.readLive(spark, state.toString))
      r.raw("keys") = keysSeen
      r.raw("key_mismatches") = bad
      r.raw("dlq") = dlqOffsets(spark, dlq)
    }
    // a scan of the small state takes ~0.15 s and single scans vary by
    // ±15%, so a longer warm-up and many timed scans
    r.raw("scan_s") = scan(Seq(state.toString), r, warm = 10, timed = 21)
    val (files, bytes) = footprint(state)
    r.raw("state_files") = files; r.raw("state_bytes") = bytes
    r.raw("peak_rss_mb") = rssHwmMb()

    if (r.trace) {
      val replayState = r.work.resolve("replay-state").toString
      // the pre-run state of Pipeline.start without a full load: empty
      TableSink.writeSnapshot(TableSink.readLive(spark, state.toString).limit(0), "user_id", replayState)
      replay(r, ckpt, wire, cl => Seq(replayState -> cl.drop("table_name")))
    }
  }
}

/** `stream_backlog_wide`: a backlog staged back-to-back, as a connector
  * flush leaves it, drained by `Pipeline.startFanout` into five state
  * tables that a full load seeded with ~2M keys. */
object Wide {
  import StreamChecks._

  val tables = Seq("signup", "click", "error", "view", "purchase")
  val keysPerTable = 100000L
  val eventsPerDrop = 1000
  val dropsPerSecond = 0.6
  private val seedTsMs = 946684800000L // 2000-01-01: older than every event
  private val eventTsMs = 1609459200000L // 2021-01-01

  /** Full-load rows of one table: a pure function of (seed, table). */
  def seedRows(spark: SparkSession, seed: Long, table: String): DataFrame = {
    val h = xxhash64(col("id"), lit(seed), lit(table))
    spark.range(keysPerTable).select(
      col("id").as("user_id"),
      (pmod(h, lit(1000000L)) / 100.0).as("last_value"),
      timestamp_millis(lit(seedTsMs) + col("id")).as("updated_at"),
      (pmod(h, lit(5L)) + 1L).as("n_changes"))
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val rng = new java.util.Random(r.seed)
    val state = r.work.resolve("state")
    r.spans("setup.full_load") { _ =>
      tables.foreach(t => TableSink.writeSnapshot(seedRows(spark, r.seed, t), "user_id", s"$state/$t"))
    }
    if (r.trace) copyTree(state, r.work.resolve("replay-state"))

    val nDrops = math.max(4, (r.seconds * dropsPerSecond).round.toInt)
    var offset = 0L
    val drops = Vector.fill(nDrops) {
      Vector.fill(eventsPerDrop) {
        offset += 1
        val t = tables(rng.nextInt(tables.size))
        val p = rng.nextDouble()
        val op = if (p < 0.1) "c" else if (p < 0.2) "d" else "u"
        Event(t, offset, op, (rng.nextDouble() * keysPerTable).toLong,
          rng.nextInt(1000000) / 100.0, eventTsMs + offset, rng.nextDouble() < poisonShare)
      }
    }
    val wire = r.dir("wire")
    r.spans("setup.stage_backlog") { _ =>
      drops.zipWithIndex.foreach { case (d, i) => Wire.writeDrop(wire, i, d) }
    }

    val ckpt = r.work.resolve("ckpt"); val dlq = r.work.resolve("dlq")
    val cfg = Pipeline.Config(wire.toString, state.toString, ckpt.toString,
      dlqPath = Some(dlq.toString), fanoutTables = tables)
    val t0 = Clock.ms()
    r.raw("timed_start_ms") = t0
    r.spans("drain") { _ =>
      val q = Pipeline.startFanout(spark, cfg)
      q.processAllAvailable()
      r.raw("timed_end_ms") = Clock.ms()
      q.stop()
      q.awaitTermination()
    }

    r.raw("drops") = drops.indices.map { i =>
      Map("name" -> Wire.dropName(i), "events" -> drops(i).size, "timed" -> true,
        "due_ms" -> t0, "written_ms" -> t0)
    }
    r.raw("checkpoint") = ckpt.toString
    val all = drops.flatten
    r.raw("events") = all.size
    r.raw("poisoned") = all.filter(_.poisoned).map(_.offset)

    r.spans("check") { _ =>
      val ev = eventsFrame(spark, all).cache()
      var keysSeen = 0L; var bad = 0L
      tables.foreach { t =>
        val seedCl = seedRows(spark, r.seed, t).select(
          lit("c").as("op"), col("user_id").as("pk"), col("updated_at").as("ts"),
          lit(Long.MinValue).as("seq"), col("last_value").as("value"), col("n_changes").as("weight"))
        val expected = Materialize.latestSnapshotWeighted(
          seedCl.unionByName(ev.where(col("table") === t).drop("table")))
        val (k, b) = compare(expected, TableSink.readLive(spark, s"$state/$t"))
        keysSeen += k; bad += b
      }
      ev.unpersist()
      r.raw("keys") = keysSeen
      r.raw("key_mismatches") = bad
      r.raw("dlq") = dlqOffsets(spark, dlq)
    }
    r.raw("scan_s") = scan(tables.map(t => s"$state/$t"), r, warm = 2, timed = 7)
    val (files, bytes) = footprint(state)
    r.raw("state_files") = files; r.raw("state_bytes") = bytes
    r.raw("peak_rss_mb") = rssHwmMb()

    if (r.trace) {
      val replayState = r.work.resolve("replay-state")
      replay(r, ckpt, wire, cl =>
        tables.map(t => s"$replayState/$t" -> cl.where(col("table_name") === t).drop("table_name")))
    }
  }
}
