package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{Catalog, SparkEntry}
import graft.operators
import graft.streaming.StreamingOps
import graft.tensor.{CPALS, NnHals, Tucker}

/** The two workloads. Each records its operations through the Recorder
  * (timed ones count as attempted), adds what run.py checks or reports to
  * `out`, and returns workload-specific per-layer figures for the traced
  * report. */
object Workloads {

  /** Operator module of every declared query, for per-module attribution. */
  private lazy val moduleOf: Map[String, String] = Seq(
    "Scans" -> operators.Scans.queries, "Filters" -> operators.Filters.queries,
    "Joins" -> operators.Joins.queries, "Aggregates" -> operators.Aggregates.queries,
    "Windows" -> operators.Windows.queries, "SortSet" -> operators.SortSet.queries,
    "Scalars" -> operators.Scalars.queries, "TextOps" -> operators.TextOps.queries,
    "VectorOps" -> operators.VectorOps.queries, "EventTime" -> operators.EventTime.queries,
    "TextAnalysis" -> operators.TextAnalysis.queries, "NearDup" -> operators.NearDup.queries,
    "Subqueries" -> operators.Subqueries.queries, "PipelineOps" -> operators.PipelineOps.queries,
    "Profiling" -> operators.Profiling.queries, "Clustering" -> operators.Clustering.queries,
    "Graphs" -> operators.Graphs.queries, "Skyline" -> operators.Skyline.queries,
    "Cdc" -> operators.Cdc.queries, "Density" -> operators.Density.queries,
    "Bpe" -> operators.Bpe.queries, "Stats" -> operators.Stats.queries,
    "TextRank" -> operators.TextRank.queries, "Reshape" -> operators.Reshape.queries,
    "Pii" -> operators.Pii.queries, "Behavior" -> operators.Behavior.queries,
    "Trend" -> operators.Trend.queries, "Quality" -> operators.Quality.queries,
    "TensorGates" -> operators.TensorGates.queries
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** Drop what an operation cached or checkpointed, outside the timed
    * region, so later operations start from the same state. */
  private def release(spark: SparkSession, before: Set[Int]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  /** Run `pass` until `seconds` have elapsed, at least once, and not
    * again once the run's deadline has passed. */
  private def passes(seconds: Double, rec: Recorder)(pass: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var p = 1
    while (p == 1 || ((System.nanoTime() - t0) / 1e9 < seconds && !rec.pastDeadline)) {
      pass(p)
      p += 1
    }
  }

  // ------------------------------------------------------------------
  // analytics-sf0.1: five artifact rebuilds, then timed passes over the
  // declared queries in seed-permuted order, each followed by the stream
  // replay.
  // ------------------------------------------------------------------
  def analytics(spark: SparkSession, o: Opts, rec: Recorder,
      out: mutable.Map[String, Any]): Map[String, Double] = {
    val data = o("data")
    val work = o("work")
    val queries = o.list("queries")
    val registry = SparkEntry.queries
    val builds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "co_pairs" -> operators.Derived.rebuildCoOrderPairCounts,
      "triangles" -> operators.Derived.rebuildTriangleCounts,
      "neardup" -> operators.Derived.rebuildNearDupClusters,
      "daily_grid" -> operators.Derived.rebuildDailyCentsGrid,
      "lpa" -> operators.Derived.rebuildLpaLabels)
    builds.foreach { case (name, build) =>
      rec.run("build", name, s"Derived.$name", 0, timed = true) { ph =>
        ph.execute(build(spark, data))
      }
    }

    // Timed passes: every query writes its result as parquet, the way a
    // pipeline hands it on; run.py checks the last pass's files against
    // the DuckDB oracle's rows. The rebuilds above have warmed the JVM.
    val rnd = new Random(o.long("seed"))
    val replay = new Replay(spark, o, rec)
    passes(o.double("seconds"), rec) { p =>
      rnd.shuffle(queries).foreach { q =>
        val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
        rec.run("query", q, s"operators.${moduleOf(q)}", p, timed = true) { ph =>
          val df = ph.construct(registry(q)(spark, data))
          ph.execute(df.write.mode("overwrite").parquet(s"$work/out/$q"))
        }
        release(spark, before)
      }
      replay.pass(p)
    }
    out("batches") = replay.batches.toSeq
    out("rows") = replay.rows
    replay.layer.toMap
  }

  // ------------------------------------------------------------------
  // parafac: CP-ALS and NN-HALS (fixed iterations, tol = 0) on (a) the Q43
  // events tensor and (b) a seeded, planted low-rank dense tensor with
  // I >> J, K, and Tucker HOSVD on (b). Fits are checked: (a) against
  // pinned values, (b) against a floor.
  // ------------------------------------------------------------------
  def parafac(spark: SparkSession, o: Opts, rec: Recorder,
      out: mutable.Map[String, Any]): Map[String, Double] = {
    val data = o("data")
    val cpus = o.int("cpus")
    val rank = o.int("rank")
    val iters = o.int("iters")
    val seed = o.long("seed")
    val (bi, bj, bk) = (o.long("b_i"), o.int("b_j"), o.int("b_k"))
    val tensorA = operators.EventTime.q43(spark, data)
    val tensorB = planted(spark, bi, bj, bk, o.int("b_planted"), seed).cache()
    rec.run("stage", "b", "tensor.stage", -1, timed = false)(_ => tensorB.count())
    type Fit = DataFrame => Double
    val cp: Fit = coo => CPALS.fit(coo, rank = rank, seed = 42L, tol = 0.0,
      maxIter = iters, numSlabs = cpus).finalFit
    val hals: Fit = coo => NnHals.fit(coo, rank = rank, seed = 42L, tol = 0.0,
      maxIter = iters, numSlabs = cpus).finalFit
    val tucker: Fit = coo => Tucker.hosvd(coo, TuckerRanks).fit
    // Tucker runs on the planted tensor only; in the full workload its
    // 5000-wide mode 1 is past the exact-Gram budget (4096) and takes the
    // randomized range-finder path.
    // CP-ALS on (b) runs three times a pass: run.py reports the median of
    // its seconds per iteration, steadier than one fit's.
    val ops: Seq[(String, String, Fit)] = Seq(
      ("a", "cp_fit", cp), ("a", "hals_fit", hals)) ++
      Seq.fill(3)(("b", "cp_fit", cp)) ++
      Seq(("b", "hals_fit", hals), ("b", "tucker", tucker))
    // Untimed warm-up: one CP-ALS iteration on tensor (a), so class loading
    // and JIT do not land on the first timed decomposition.
    rec.run("warmup", "a-cp_fit", "tensor.warmup", -1, timed = false) { _ =>
      CPALS.fit(tensorA, rank, 42L, 0.0, 1, cpus)
    }
    val fits = mutable.ArrayBuffer[Map[String, Any]]()
    passes(o.double("seconds"), rec) { p =>
      ops.foreach { case (t, d, f) =>
        val coo = if (t == "a") tensorA else tensorB
        val fit = rec.run("decomposition", s"$t-$d", s"tensor.$t.$d", p, timed = true) { ph =>
          ph.execute(f(coo))
        }
        fit.foreach(v => fits += Map("op" -> rec.ops.last.id, "tensor" -> t,
          "decomposition" -> d, "fit" -> v))
      }
    }
    out("fits") = fits.toSeq
    Map("tensor.iterations" ->
      rec.ops.count(r => r.timed && (r.layer.endsWith("cp_fit") || r.layer.endsWith("hals_fit"))) *
        iters.toDouble)
  }

  /** Tucker HOSVD ranks of tensor (b). */
  private val TuckerRanks = (4, 4, 4)

  /** A dense I×J×K tensor with a planted nonnegative rank-R structure.
    * The factors come from a Random of `seed`, so the same seed gives the
    * same tensor on any machine. */
  def planted(spark: SparkSession, i: Long, j: Int, k: Int, r: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new Random(seed)
    def factor(n: Long): Array[Double] = Array.fill((n * r).toInt)(0.001 + rnd.nextDouble())
    val (fa, fb, fc) = (factor(i), factor(j), factor(k))
    spark.sparkContext.range(0L, i * j * k).map { id =>
      val (ii, jj, kk) = ((id / (j * k)).toInt, ((id / k) % j).toInt, (id % k).toInt)
      var v = 0.0
      var c = 0
      while (c < r) { v += fa(ii * r + c) * fb(jj * r + c) * fc(kk * r + c); c += 1 }
      (ii.toLong, jj.toLong, kk.toLong, v)
    }.toDF("i", "j", "k", "v")
  }

  /** The stream replay of the analytics workload: the events, staged by
    * run.py in event-time order as seeded chunks, one parquet file per
    * micro-batch, through four stateful pipelines on the RocksDB state
    * store. Each pipeline's final sink state is checked against its batch
    * twin. */
  private final class Replay(spark: SparkSession, o: Opts, rec: Recorder) {
    private val data = o("data")
    private val work = o("work")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    private val events = Catalog(spark, data).events
    private def source = StreamingOps.eventsStream(spark, o("replay"), Some(1))
    private val pipelines: Seq[(String, String, () => DataFrame)] = Seq(
      ("q42_sessions", "complete", () => StreamingOps.q42Stream(source)),
      ("dedup", "append", () => StreamingOps.dedupStream(source)),
      ("sketch_windows", "complete", () => StreamingOps.sketchWindowStream(spark, source)),
      ("running_counts_tws", "update", () => StreamingOps.runningCountsTws(spark, source)))

    val batches = mutable.ArrayBuffer[Map[String, Any]]()
    val layer = mutable.Map[String, Double]().withDefaultValue(0.0)
    var rows = 0L

    def pass(p: Int): Unit = pipelines.foreach { case (name, mode, build) =>
      val sink = s"${name}_p$p"
      val query = rec.run("replay", name, s"streaming.$name", p, timed = true) { ph =>
        val df = ph.construct(build())
        ph.execute {
          val q = df.writeStream.format("memory").queryName(sink).outputMode(mode)
            .option("checkpointLocation", s"$work/stream-ckpt/$sink")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          q.exception.foreach(e => throw e)
          q
        }
      }
      query.foreach { q =>
        val progress = q.recentProgress
        progress.filter(_.numInputRows > 0).foreach { pr =>
          val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          batches += Map("pipeline" -> name, "pass" -> p,
            "trigger_s" -> d.getOrElse("triggerExecution", 0L) / 1e3,
            "rows" -> pr.numInputRows)
          rows += pr.numInputRows
          layer("streaming.add_batch_s") += d.getOrElse("addBatch", 0L) / 1e3
          layer("streaming.query_planning_s") += d.getOrElse("queryPlanning", 0L) / 1e3
          layer("streaming.wal_commit_s") += d.getOrElse("walCommit", 0L) / 1e3 +
            d.getOrElse("commitOffsets", 0L) / 1e3
          pr.stateOperators.foreach { s =>
            layer("streaming.state_commit_s") += s.commitTimeMs / 1e3
            layer("streaming.rows_dropped_late") += s.numRowsDroppedByWatermark.toDouble
          }
        }
        progress.lastOption.foreach(_.stateOperators.foreach { s =>
          layer("streaming.state_rows") += s.numRowsTotal.toDouble
          layer("streaming.state_mem_bytes") += s.memoryUsedBytes.toDouble
        })
        val id = rec.ops.last.id
        rec.run("check", name, s"streaming.$name", -1, timed = false) { _ =>
          checkStream(spark, data, name, spark.table(sink), events)
        } match {
          case Some(None) => ()
          case Some(Some(why)) => rec.markWrong(id, why)
          case None => rec.markWrong(id, s"the check failed: ${rec.ops.last.error}")
        }
      }
      spark.catalog.dropTempView(sink)
    }
  }

  /** Compare a pipeline's final sink state with its batch twin. Returns a
    * description of the first difference, if any. */
  private def checkStream(spark: SparkSession, data: String, name: String,
      sink: DataFrame, events: DataFrame): Option[String] = name match {
    case "q42_sessions" =>
      val streamed = sink.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          round(avg(col("n_events")), 4).as("avg_events"),
          round(avg(col("dur_us") / 1000000.0), 4).as("avg_dur_s"))
        .orderBy("user_id").collect()
      val batch = operators.EventTime.q42(spark, data).orderBy("user_id").collect()
      sameRows(streamed, batch, tol = 1e-6)
    case "dedup" =>
      val got = sink.select("event_id").collect().map(_.getLong(0)).sorted
      val want = events.select("event_id").distinct().collect().map(_.getLong(0)).sorted
      if (got.sameElements(want)) None
      else Some(s"dedup: ${got.length} ids kept, ${want.length} distinct ids in the batch")
    case "sketch_windows" =>
      graft.plans.GraftExtensions.registerRuntime(spark)
      val ev = events.withColumn("ts_micro", timestamp_micros(expr("ts DIV 1000")))
      val hll = ev.groupBy(window(col("ts_micro"), "1 hour"))
        .agg(expr("graft_hll_distinct(user_id, 12)").as("hll"), count(lit(1)).as("n"))
        .select(unix_micros(col("window.start")).as("w"), col("hll"), col("n"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val counts = ev.groupBy(unix_micros(window(col("ts_micro"), "1 hour").getField("start")).as("w"),
          col("event_type")).count().collect()
        .groupBy(_.getLong(0)).map { case (w, rs) => w -> rs.map(r => r.getString(1) -> r.getLong(2)).toMap }
      val got = sink.collect().map(r => r.getLong(0) ->
        (r.getSeq[Row](1).map(t => t.getString(0) -> t.getLong(1)).toMap, r.getLong(2))).toMap
      if (got.keySet != hll.keySet) Some(s"sketch: ${got.size} windows vs ${hll.size}")
      else got.collectFirst {
        case (w, (_, users)) if users != hll(w)._1 => s"sketch: window $w HLL $users != ${hll(w)._1}"
        case (w, (mg, _)) if {
          val bound = hll(w)._2 / 8
          val c = counts(w)
          c.exists { case (t, n) => n > bound && !mg.contains(t) } ||
            mg.exists { case (t, est) => val n = c.getOrElse(t, 0L); est > n || est < n - bound }
        } => s"sketch: window $w heavy hitters outside the Misra-Gries bound"
      }
    case "running_counts_tws" =>
      val got = sink.groupBy("user_id").agg(max("n_events").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = events.groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (got == want) None
      else Some(s"running counts: ${(got.toSet diff want.toSet).size} users differ")
  }

  private def sameRows(a: Array[Row], b: Array[Row], tol: Double): Option[String] =
    if (a.length != b.length) Some(s"${a.length} rows vs ${b.length}")
    else a.zip(b).zipWithIndex.collectFirst {
      case ((x, y), i) if x.length != y.length || (0 until x.length).exists { c =>
          (x.get(c), y.get(c)) match {
            case (p: Double, q: Double) => math.abs(p - q) > tol
            case (p, q) => p != q
          }
        } => s"row $i: $x vs $y"
    }
}
