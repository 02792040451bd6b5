package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Derived

/** Every Derived artifact through its whole lifecycle: build, a fresh
  * catalog over the files already on disk (the table is re-registered by
  * DDL, not rebuilt), a bucket-co-located self-join, and the forced
  * rebuild.
  */
class DerivedSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private case class Case(name: String, bucketBy: String,
      get: () => DataFrame, rebuild: () => DataFrame)

  private val cases = Seq(
    Case("co_pairs", "a",
      () => Derived.coOrderPairCounts(spark, dir),
      () => Derived.rebuildCoOrderPairCounts(spark, dir)),
    Case("co_tri", "node",
      () => Derived.triangleCounts(spark, dir),
      () => Derived.rebuildTriangleCounts(spark, dir)),
    Case("lpa_labels", "node",
      () => Derived.lpaLabels(spark, dir),
      () => Derived.rebuildLpaLabels(spark, dir)),
    // The near-dup rebuild drops and rebuilds both near-dup artifacts.
    Case("neardup_pairs", "doc_lo",
      () => Derived.nearDupPairs(spark, dir),
      () => { Derived.rebuildNearDupClusters(spark, dir); Derived.nearDupPairs(spark, dir) }),
    Case("neardup_cc", "rep",
      () => Derived.nearDupClusters(spark, dir),
      () => Derived.rebuildNearDupClusters(spark, dir)),
    Case("daily_grid", "event_type",
      () => Derived.dailyCentsGrid(spark, dir),
      () => Derived.rebuildDailyCentsGrid(spark, dir)),
    Case("fastss2_k2", "sig",
      () => Derived.fastssSignatures(spark, dir, 2),
      () => Derived.rebuildFastssSignatures(spark, dir, 2)))

  /** Forget every artifact table, as a fresh session would; the tables
    * are external, so their files stay.
    */
  private def dropArtifactTables(): Unit =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_"))
      .foreach(t => spark.sql(s"DROP TABLE $t"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def files(root: Path): Set[String] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSet

  for (c <- cases)
    test(s"${c.name}: reloads from disk by DDL, self-joins with no exchange, rebuilds to the same rows") {
      val derivedBase = Files.createTempDirectory("graft-derived-test")
      spark.conf.set("spark.graft.derivedDir", derivedBase.toString)
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        dropArtifactTables()
        val built = rows(c.get())
        assert(built.nonEmpty, s"${c.name} is empty on $dir")
        val written = files(derivedBase)
        assert(written.exists(f => f.startsWith(s"${c.name}_") && f.endsWith(".parquet")),
          written.mkString("\n"))

        dropArtifactTables()
        val reloaded = c.get()
        assert(rows(reloaded) == built, s"${c.name} reloaded from disk differs from its build")
        assert(files(derivedBase) == written, s"${c.name} was rebuilt instead of re-registered")
        assert(spark.catalog.listTables().collect().exists(_.name.startsWith(s"graft_${c.name}_")))

        // Tiny fixtures fit the broadcast threshold, which would hide the
        // bucketed path; without it the join must use the bucket layout.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val x = reloaded.as("x")
        val y = reloaded.as("y")
        val plan = x.join(y, col(s"x.${c.bucketBy}") === col(s"y.${c.bucketBy}"))
          .queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange hashpartitioning"),
          s"${c.name} self-join on ${c.bucketBy} shuffles:\n$plan")

        assert(rows(c.rebuild()) == built, s"${c.name} rebuild differs from its build")
        assert(files(derivedBase) != written, s"${c.name} rebuild wrote no new files")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
        spark.conf.unset("spark.graft.derivedDir")
        dropArtifactTables()
      }
    }

  test("an empty artifact is rebuilt in a fresh catalog, not re-registered") {
    // An empty bucketed write leaves only _SUCCESS: there is no bucket
    // file to read the column list of the re-registering DDL from.
    val data = Files.createTempDirectory("graft-empty-dataset")
    spark.read.parquet(s"$dir/events.parquet").limit(0)
      .write.parquet(s"$data/events.parquet")
    val derivedBase = Files.createTempDirectory("graft-derived-test")
    spark.conf.set("spark.graft.derivedDir", derivedBase.toString)
    try {
      dropArtifactTables()
      assert(Derived.dailyCentsGrid(spark, data.toString).isEmpty)
      assert(!files(derivedBase).exists(_.endsWith(".parquet")), files(derivedBase))
      dropArtifactTables()
      assert(Derived.dailyCentsGrid(spark, data.toString).isEmpty)
    } finally {
      spark.conf.unset("spark.graft.derivedDir")
      dropArtifactTables()
    }
  }
}
