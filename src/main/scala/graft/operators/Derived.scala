package graft.operators

import java.security.MessageDigest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized derived relations — compute an expensive shared relation
  * ONCE per dataset, persist it as a BUCKETED parquet artifact, and serve
  * every consumer from the artifact (the materialized-view mechanism the
  * round-4 verdict named as the engine's last architecture gap).
  *
  * The artifacts, by name (source table of the cache key):
  *  - `co_pairs` (lineitem): co-order part pairs with their counts — the
  *    graph family (Q103/Q106/Q107 and the traversal gates).
  *  - `co_tri` (lineitem, built from `co_pairs`): per-node triangle counts.
  *  - `lpa_labels` (lineitem, built from `co_pairs`): LPA community labels.
  *  - `neardup_pairs` (documents): verified shingle-Jaccard ≥ 0.6 pairs.
  *  - `neardup_cc` (documents, built from `neardup_pairs`): near-dup clusters.
  *  - `daily_grid` (events): the zero-filled per-type daily revenue grid.
  *  - `fastss2_k<k>` (part): FastSS deletion signatures of part names.
  * At 100 TB each build dwarfs the per-query algorithm cost; here it runs
  * once per dataset and lands on disk bucketed (and sorted) on its
  * consumers' key, so they start from a co-located, sorted layout with no
  * exchange under the join (the `ScaleHygieneSpec` bucketed-join
  * machinery, applied to a derived relation instead of a base table).
  *
  * Artifact lifecycle:
  *  - Cache key = md5 of the dataset path + the source table's file
  *    listing (names, sizes, mtimes) — regenerated data invalidates the
  *    artifact; a production deployment would version artifacts explicitly.
  *  - Location = `spark.graft.derivedDir` (conf) or
  *    `java.io.tmpdir/graft-derived`; never inside the (read-only)
  *    dataset directory.
  *  - Within a session the artifact is a catalog table (so Spark's
  *    bucketing metadata applies); a fresh session over existing files
  *    re-registers the same external bucketed table by DDL instead of
  *    rebuilding.
  *
  * Each artifact's layout is one [[Artifact]] value; [[getOrBuild]]
  * generates both the bucketed write and the fresh-session DDL from it.
  */
object Derived {

  /** Basket-size cap for pair expansion: a basket of b items expands to
    * b²/2 pairs, so one pathological mega-basket (a 10⁶-line order)
    * would emit 10¹² rows from a single task. Baskets over the cap are
    * truncated to their `MaxBasket` smallest item ids — deterministic,
    * a no-op on realistic order sizes (fixture max ≈ 7), and mirrored in
    * the Q103/Q106/Q107 oracle SQL so the gate compares like-for-like.
    */
  private[operators] val MaxBasket = 1000

  /** Map-side pair expansion of a distinct (ok, pk) relation: one
    * groupBy (map-side combined collect_set) instead of an order-keyed
    * SELF-JOIN — the shuffle carries each (order, part) once, expansion
    * happens on the sorted per-order array, and sort + (i<j) slicing
    * yields a<b directly. One output row per (order, unordered pair).
    */
  private[operators] def pairOccurrences(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_orderkey"))
      .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, MaxBasket).as("parts"))
      .select(explode(expr(
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts)), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))

  /** The unmaterialized build: distinct co-order pairs with their
    * cross-order multiplicity. Exposed for the bench (which times a
    * forced fresh build) and for tests that pin build == artifact.
    */
  def buildCoOrderPairCounts(lineitem: DataFrame): DataFrame =
    pairOccurrences(lineitem)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_pairs"))

  /** One artifact's layout: catalog table `graft_<name>_<key>` over the
    * directory `<derivedDir>/<name>_<key>`, `key` fingerprinting the
    * `source` table's files; written by `build` into `buckets` files
    * bucketed by `bucketBy` and sorted by `sortBy`.
    */
  private final case class Artifact(name: String, source: String,
      bucketBy: String, sortBy: Seq[String], buckets: Int = 8)(
      val build: (SparkSession, String) => DataFrame)

  private def datasetKey(spark: SparkSession, dir: String,
      tableName: String): String = {
    val src = new Path(s"$dir/$tableName.parquet")
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing =
      if (fs.exists(src))
        fs.listStatus(src)
          .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
          .sorted.mkString("|")
      else "missing"
    MessageDigest.getInstance("MD5")
      .digest(s"$dir|$listing".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
  }

  private def baseDir(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.derivedDir")
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft-derived")

  /** The artifact's catalog table name and directory for the dataset. */
  private def place(spark: SparkSession, dir: String, a: Artifact): (String, Path) = {
    val key = datasetKey(spark, dir, a.source)
    (s"graft_${a.name}_$key", new Path(s"${baseDir(spark)}/${a.name}_$key"))
  }

  /** Get-or-build `a` for the dataset at `dir`, after dropping the
    * artifacts in `fresh` (the forced rebuilds, which the bench times as
    * their own legs so query timings are pure consumers and stale state
    * can never flatter them). Subsequent calls, in this session or a
    * fresh one, read the bucketed table: the build runs at most once per
    * dataset fingerprint. One lock serializes every build; it is
    * reentrant, so a build may read another artifact.
    */
  private def getOrBuild(spark: SparkSession, dir: String, a: Artifact,
      fresh: Seq[Artifact] = Nil): DataFrame = synchronized {
    fresh.foreach(drop(spark, dir, _))
    val (table, loc) = place(spark, dir, a)
    if (!spark.catalog.tableExists(table)) {
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // An empty artifact leaves no bucket file to read a schema from, so
      // it is rebuilt rather than re-registered.
      if (fs.exists(new Path(loc, "_SUCCESS"))
          && fs.globStatus(new Path(loc, "*.parquet")).nonEmpty) {
        // Fresh session, artifact already on disk: register the external
        // bucketed table over the existing files. Spark needs a column
        // list beside CLUSTERED BY; the files' own schema is that list.
        val columns = spark.read.parquet(loc.toString).schema.toDDL
        spark.sql(
          s"""CREATE TABLE $table ($columns)
             |USING PARQUET
             |CLUSTERED BY (${a.bucketBy}) SORTED BY (${a.sortBy.mkString(", ")})
             |INTO ${a.buckets} BUCKETS
             |LOCATION '$loc'""".stripMargin)
      } else {
        a.build(spark, dir)
          .write.mode("overwrite")
          .bucketBy(a.buckets, a.bucketBy).sortBy(a.sortBy.head, a.sortBy.tail: _*)
          .option("path", loc.toString)
          .saveAsTable(table)
      }
    }
    spark.table(table)
  }

  /** Drop the artifact's catalog table and delete its files. */
  private def drop(spark: SparkSession, dir: String, a: Artifact): Unit = {
    val (table, loc) = place(spark, dir, a)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
  }

  /** Storage is (a, b, n_pairs) — pair counts, NOT just distinct edges:
    * the count column is free at build time (same shuffle), Q107 needs it,
    * and Q103/Q106 get their distinct edge list by projection (every
    * stored pair is distinct by construction of the groupBy). Bucketed
    * by `a` so consumers that join or aggregate on the leading edge
    * endpoint start co-located.
    */
  private val CoPairs = Artifact("co_pairs", "lineitem", "a", Seq("a", "b"))(
    (spark, dir) => buildCoOrderPairCounts(graft.Catalog(spark, dir).lineitem))

  /** Get-or-build the co-order pair-count artifact: Q103 (triangles),
    * Q106 (PageRank), Q107 (association rules) and the graph family all
    * consume this ~lineitem-squared pair relation, which each used to
    * re-expand per execution.
    */
  def coOrderPairCounts(spark: SparkSession, dir: String): DataFrame =
    getOrBuild(spark, dir, CoPairs)

  /** Forced fresh rebuild of the pair-count artifact (bench leg). */
  def rebuildCoOrderPairCounts(spark: SparkSession, dir: String): DataFrame =
    getOrBuild(spark, dir, CoPairs, fresh = Seq(CoPairs))

  private val NearDupPairs =
    Artifact("neardup_pairs", "documents", "doc_lo", Seq("doc_lo", "doc_hi"))(
      (spark, dir) =>
        TextOps.jaccardFromTokens(spark, NearDup.shingles(graft.Catalog(spark, dir)), 0.6)
          .select(col("doc_lo"), col("doc_hi"), col("jaccard")))

  /** Get-or-build the verified shingle-Jaccard ≥ 0.6 pair relation
    * (doc_lo, doc_hi, jaccard) — the discovery output of the near-dup
    * pipeline. Q49 (pair listing) and Q166 (cross-source rollup) consume
    * it directly; [[nearDupClusters]] builds its CC over it. One
    * discovery pass per data drop instead of one per report.
    *
    * Build strategy is ADAPTIVE (TextOps.jaccardFromTokens, r11 verdict
    * item 1): exact discovery (direct or PPJoin prefix-filtered join)
    * while its measured candidate mass fits the declared budgets; when
    * even the prefix-filtered mass degenerates (low-entropy corpora —
    * the sf10 rehearsal measured >70 GB scratch DNF), discovery switches
    * to MinHash-LSH banding + exact verification of candidates. Fixture
    * tiers always take the exact path (their direct mass is ~3M rows),
    * so the artifact's gate hashes are byte-identical; LSH-vs-exact set
    * equality at fixture scale is pinned in NearDupSpec.
    */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    getOrBuild(spark, dir, NearDupPairs)

  private val CoTri = Artifact("co_tri", "lineitem", "node", Seq("node"))(
    (spark, dir) =>
      // r14: the decomposed per-node aggregation (closing edges contribute
      // their intersection size, apexes explode) — T + 2m aggregation rows
      // instead of 3T corner rows; identical counts (AnalyticsOpsSpec).
      Graphs.triangleCountsPerNode(
          coOrderPairCounts(spark, dir).select(col("a"), col("b")))
        .select(col("node").cast("long").as("node"),
          col("n_triangles").cast("long").as("n_triangles")))

  /** Get-or-build the per-node triangle-count artifact of the co-order
    * graph: (node, n_triangles) from ONE degree-oriented enumeration
    * (r13). Q103 (top-k participation) and Q145 (clustering
    * coefficient) both consumed the FULL enumeration per execution —
    * at 100 TB the enumerated wedge mass (O(m^1.5), the r12 sweep's
    * 75 GB-spill Q103 leg) is the whole cost, and it was paid twice
    * per report batch (×3 again under the bench's 3-run protocol).
    */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame =
    getOrBuild(spark, dir, CoTri)

  /** Forced fresh rebuild of the triangle-count artifact (bench leg).
    * Runs AFTER [[rebuildCoOrderPairCounts]] — it reads the pair artifact.
    */
  def rebuildTriangleCounts(spark: SparkSession, dir: String): DataFrame =
    getOrBuild(spark, dir, CoTri, fresh = Seq(CoTri))

  private val NearDupCc = Artifact("neardup_cc", "documents", "rep", Seq("rep", "member"))(
    (spark, dir) =>
      // Adaptive CC (r13): the verified dup-pair graph is a sparse side
      // output; under the probe budget the driver union-find replaces the
      // star-contraction loop's 2-jobs-per-round fixpoint — same labels.
      NearDup.connectedComponentsAdaptive(
        nearDupPairs(spark, dir).select(col("doc_lo"), col("doc_hi"))))

  /** Get-or-build the near-dup cluster-assignment artifact: the
    * (rep, member) connected-components relation over
    * [[nearDupPairs]] (O(log n) star contraction). Q67/Q68/Q187/Q196
    * consume this relation; before these artifacts each re-ran the
    * whole discovery+CC pipeline per report.
    */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    getOrBuild(spark, dir, NearDupCc)

  /** Forced fresh rebuild of the near-dup artifacts (pairs and clusters)
    * for the bench.
    */
  def rebuildNearDupClusters(spark: SparkSession, dir: String): DataFrame =
    getOrBuild(spark, dir, NearDupCc, fresh = Seq(NearDupPairs, NearDupCc))

  private val LpaLabels = Artifact("lpa_labels", "lineitem", "node", Seq("node"))(
    (spark, dir) =>
      Graphs.labelPropagation(
          coOrderPairCounts(spark, dir).filter(col("n_pairs") >= 2).select(col("a"), col("b")),
          Graphs.LpaRounds)
        .select(col("node").cast("long").as("node"), col("label").cast("long").as("label")))

  /** Get-or-build the LPA community-label artifact: the deterministic
    * 3-round min-tiebreak label-propagation assignment (node, label)
    * over the support-pruned co-order graph. Q156 (community listing)
    * and Q342 (modularity scoring) consume it; before this artifact
    * each re-ran the 3 join+window LPA rounds per execution — at
    * 100 TB, two full passes of the iteration for one deterministic
    * relation per data drop. Bucketed by node so Q342's per-endpoint
    * label joins start co-located.
    */
  def lpaLabels(spark: SparkSession, dir: String): DataFrame =
    getOrBuild(spark, dir, LpaLabels)

  /** Forced fresh rebuild of the LPA-labels artifact for the bench. */
  def rebuildLpaLabels(spark: SparkSession, dir: String): DataFrame =
    getOrBuild(spark, dir, LpaLabels, fresh = Seq(LpaLabels))

  /** The unmaterialized build of the zero-filled per-type daily
    * revenue-cents grid on the GLOBAL [dmin, dmax] day spine — the shared
    * series base of the entire Stats/Trend/Behavior spine (~34 gates).
    * One corpus scan; output is types × calendar-days rows, bounded at
    * ANY corpus size.
    */
  def buildDailyCentsGrid(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"),
        expr("(ts DIV 1000) DIV 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("cents")).cast("long").as("v"))
    val ext = daily.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(ext))
      .select(col("event_type"), explode(expr("sequence(dmin, dmax)")).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("v"), lit(0L)).as("v"))
  }

  private val DailyGrid =
    Artifact("daily_grid", "events", "event_type", Seq("event_type", "day"), buckets = 4)(
      (spark, dir) => buildDailyCentsGrid(graft.Catalog(spark, dir).events))

  /** Get-or-build the daily-cents-grid artifact. Before this artifact,
    * every one of the ~34 consumer gates re-ran the full `events` scan +
    * (type, day) aggregate per execution — at 100 TB that is 34 corpus
    * scans for one tiny (type × day) relation. Bucketed by event_type
    * and sorted by (event_type, day), so the dominant consumer shape — a
    * window PARTITION BY event_type ORDER BY day — starts from a
    * co-located sorted layout.
    */
  def dailyCentsGrid(spark: SparkSession, dir: String): DataFrame =
    getOrBuild(spark, dir, DailyGrid)

  /** Forced fresh rebuild of the daily-grid artifact for the bench. */
  def rebuildDailyCentsGrid(spark: SparkSession, dir: String): DataFrame =
    getOrBuild(spark, dir, DailyGrid, fresh = Seq(DailyGrid))

  private def fastss(k: Int): Artifact = {
    val buckets = 32
    Artifact(s"fastss2_k$k", "part", "sig", Seq("sig", "p_partkey"), buckets)(
      (spark, dir) =>
        graft.Catalog(spark, dir).part
          .select(col("p_brand"), col("p_partkey"),
            explode(array_distinct(expr(s"graft_deletion_hashes(p_name, $k)")))
              .as("v"))
          .select(col("p_partkey"), xxhash64(col("p_brand"), col("v")).as("sig"))
          // One shuffle on the bucket key so each bucket lands as one
          // sorted file; the writer's per-task sort is then exactly the
          // bucket's rows (external, spillable) instead of a per-task
          // re-sort of a mixed-bucket partition.
          .repartition(buckets, col("sig")))
  }

  /** Get-or-build the FastSS deletion-signature artifact over part
    * names: (p_partkey, sig) with sig ranging over each name's
    * ≤k-deletion neighborhood hashes, BUCKETED by sig (32 buckets,
    * sorted by sig, p_partkey). The r12 sf10 sweep measured Q126's
    * in-memory signature self-join inadmissible at combinatorial-name
    * scale (2M names × ~466 variants ≈ 10⁹ rows OOMed a 48 GB heap —
    * SCALE.md finding 3); served from this artifact, BOTH sides of the
    * candidate self-join read the same bucketed, sig-sorted layout, so
    * the join runs bucket-co-located with NO exchange and NO hash-table
    * build — a streaming sort-merge over disk-sorted runs whose memory
    * is bounded by the largest single-signature group, not the
    * relation. The k parameter is part of the artifact key: k = 2 is
    * the declared gate semantics; k = 1 (~L variants/name instead of
    * ~L²/2) is the probe-gated fallback one more decade up, which
    * keeps d ≤ 1 recall complete but finds only the d = 2 pairs that
    * share a 1-deletion variant — a documented recall trade, the Q334
    * sampled-twin discipline.
    *
    * The stored sig FOLDS THE BRAND BLOCK into the variant hash
    * (xxhash64(p_brand, variant)): the candidate self-join then has
    * sig as its ONLY key, which the bucket sort order (sig, p_partkey)
    * satisfies exactly — a ZERO-SORT streaming merge (the first cut of
    * this artifact joined on (brand, sig) and re-sorted all 10⁹ rows
    * per run: 47 GB of measured spill for a sort the layout almost
    * carried). Cross-brand pairs collide only at xxhash64-collision
    * odds — the same accepted 2⁻⁶⁴ class as the variant hashes
    * themselves — and every candidate is still verified by the banded
    * Levenshtein before it can reach the output.
    */
  def fastssSignatures(spark: SparkSession, dir: String, k: Int): DataFrame =
    getOrBuild(spark, dir, fastss(k))

  /** Forced fresh rebuild of the FastSS signature artifact (sweep leg). */
  def rebuildFastssSignatures(spark: SparkSession, dir: String, k: Int): DataFrame =
    getOrBuild(spark, dir, fastss(k), fresh = Seq(fastss(k)))
}
