package graftbench

import graft.SparkEntry

/** `batch_mix`: one closed-loop client runs a fixed list of
  * `SparkEntry.queries` in order. An untimed pass writes every result for
  * the oracle compare, an untimed `noop` pass finishes warming the JVM
  * (the second run of a query is still up to 40% slower than the third),
  * and a fixed number of timed passes write to `noop`, so the report can
  * take each query's median wall. */
object BatchMix {

  /** One query per module, including a many-small-jobs query
    * (`ann_nndescent_round`, 23 jobs) and the single-task-skew `q1_agg`. */
  val queries: Seq[String] = Seq(
    "q1_agg", "q_asof_join", "cdc_parse_envelope", "dedup_exact",
    "ann_nndescent_round", "text_quality", "mm_frame_sample")

  /** A warm pass takes about 9 s on 4 cpus: one timed pass per 10 s of
    * --seconds, and at least two. */
  def passes(seconds: Int): Int = math.max(2, seconds / 10)

  def run(r: Run): Unit = {
    val spark = r.spark
    val sc = spark.sparkContext
    val out = r.dir("out")
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    r.spans("setup.check_pass") { _ =>
      queries.foreach { q =>
        sc.setJobGroup(s"check:$q", q, interruptOnCancel = false)
        try SparkEntry.queries(q)(spark, r.dataDir).write.mode("overwrite").parquet(out.resolve(q).toString)
        catch { case e: Exception => errors(q) = s"check pass: $e" }
      }
    }

    r.spans("setup.warm_pass") { _ =>
      queries.foreach { q =>
        sc.setJobGroup(s"warm:$q", q, interruptOnCancel = false)
        try SparkEntry.queries(q)(spark, r.dataDir).write.format("noop").mode("overwrite").save()
        catch { case e: Exception => errors.getOrElseUpdate(q, s"warm pass: $e") }
      }
    }

    r.raw("timed_start_ms") = Clock.ms()
    val walls = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    (0 until passes(r.seconds)).foreach { pass =>
      queries.foreach { q =>
        sc.setJobGroup(s"timed:$pass:$q", q, interruptOnCancel = false)
        walls += r.spans(s"query.$q") { id =>
          val start = Clock.ms()
          val constructed = try {
            val df = r.spans("construct", id) { _ => SparkEntry.queries(q)(spark, r.dataDir) }
            val t1 = Clock.ms()
            r.spans("execute", id) { _ => df.write.format("noop").mode("overwrite").save() }
            Some(t1)
          } catch { case e: Exception => errors.getOrElseUpdate(q, s"timed pass: $e"); None }
          Map("query" -> q, "pass" -> pass, "start_ms" -> start, "end_ms" -> Clock.ms(),
            "construct_ms" -> constructed.map(_ - start).getOrElse(0.0))
        }
      }
    }
    r.raw("timed_end_ms") = Clock.ms()
    sc.clearJobGroup()
    r.raw("walls") = walls.toSeq
    r.raw("errors") = errors.toMap
    r.raw("oracle_sql") = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    r.raw("out_dir") = out.toString

    // a downstream reader's scan of what the check pass wrote
    val written = queries.filter(q => java.nio.file.Files.isDirectory(out.resolve(q)))
    r.raw("scan_s") = StreamChecks.readBack(r, warm = 1, timed = 3) {
      written.foreach(q => spark.read.parquet(out.resolve(q).toString).write.format("noop").mode("overwrite").save())
    }
    r.raw("peak_rss_mb") = StreamChecks.rssHwmMb()
  }
}
