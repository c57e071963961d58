package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Inputs

/** Graph operators over dedup candidate pairs — the step after near-dup
  * pair generation in a training-data pipeline: pairs are only edges; the
  * deliverable is CLUSTERS (keep one representative per component).
  *
  * Connected components run as distributed min-label propagation: every
  * node starts labeled with its own id, each round takes the min of its
  * own and its neighbors' labels, until no label changes. Rounds =
  * O(graph diameter); near-dup graphs are unions of small cliques, so 2-3
  * rounds converge. Per round: one shuffle (join on node) + one shuffle
  * (groupBy node) — the same shape GraphFrames/GraphX use, no driver-side
  * data, only a scalar convergence count crosses to the driver.
  * `localCheckpoint` truncates the per-iteration lineage so plans don't
  * grow superlinearly with rounds.
  */
object GraphQueries {

  /** Edge-count ceiling for the driver-side union-find fast path: 1M
    * symmetric edges ≈ 16 MB collected — safely bounded. Above it the
    * distributed min-label loop runs (the 100 TB path). */
  final val DriverCcCap = 1000000L

  /** Connected components of the undirected graph given by `edges`
    * (columns src, dst, integral; one row per edge, either orientation).
    * Returns (node, comp) where comp = min node id in the component.
    * Nodes are edge endpoints — isolated nodes don't appear (join the
    * node universe afterwards if singletons matter).
    *
    * Adaptive execution: the edge set is already materialized (the
    * checkpoint) and counted, so a BOUNDED graph (≤ `driverCap` edges)
    * runs union-find on the driver — exact same labels, none of the
    * per-round fixed job cost that dominated q58/q69 at toy scale (3-4
    * rounds × ~5 stages for a 50-edge graph). Near-dup graphs stay tiny
    * even at corpus scale (edges ∝ duplicate pairs, not docs), but the
    * distributed path is the contract beyond the cap and stays ST-pinned
    * against the driver path (`GraphSpec`). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
      driverCap: Long = DriverCcCap): DataFrame = {
    val spark = edges.sparkSession
    val sym = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
      .localCheckpoint(true)
    if (sym.count() <= driverCap)
      return unionFindLocal(spark, sym.collect().map(r => (r.getLong(0), r.getLong(1))))
    val symB = sym
      .unionByName(sym.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    connectedComponentsDistributed(symB, maxIter)
  }

  /** Driver union-find over a bounded edge list (both driver paths). */
  private def unionFindLocal(spark: SparkSession,
      es: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val m = unionFindMap(es)
    m.keys.toSeq.sorted.map(n => (n, m(n))).toDF("node", "comp")
  }

  /** Pure union-find: node -> min-id component label, for every edge
    * endpoint. The seam q69/q94's driver-assembled cluster step shares
    * with the CC driver fast path (labels pinned identical to the
    * distributed loop by `GraphSpec`). */
  private[operators] def unionFindMap(es: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** The distributed min-label + pointer-jumping loop (beyond-cap path;
    * `symEdges` must already be symmetric + distinct). */
  private[operators] def connectedComponentsDistributed(sym: DataFrame,
      maxIter: Int): DataFrame = {
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node"))
      .localCheckpoint(true)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // each node's new label: min over (own label, neighbors' labels)
      val nbrMin = sym.join(labels, sym("dst") === labels("node"))
        .groupBy(sym("src").as("n")).agg(min(col("comp")).as("nbr_comp"))
      val hopped = labels.join(nbrMin, labels("node") === col("n"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      // pointer jumping: comp(x) <- comp(comp(x)). Combined with the
      // neighbor hop, label distance shrinks multiplicatively per round —
      // chains of length 2^maxIter converge, not just maxIter (a plain
      // one-hop loop silently SPLITS any component with eccentricity >
      // maxIter; coastline-shaped dense-cell chains hit that).
      val next = hopped.as("a")
        .join(hopped.select(col("node").as("c"), col("comp").as("cc")),
          col("a.comp") === col("c"), "left")
        .select(col("a.node").as("node"),
          least(col("a.comp"), coalesce(col("cc"), col("a.comp"))).as("comp"))
        .localCheckpoint(true)
      val changed = next.as("a")
        .join(labels.select(col("node"), col("comp").as("old")), Seq("node"))
        .filter(col("comp") =!= col("old")).count() // scalar only
      labels = next
      converged = changed == 0
      it += 1
    }
    // wrong-but-silent is the one unacceptable outcome for an
    // exactness-gated operator: fail loudly if the label fixpoint was
    // not reached (practically unreachable at maxIter=25 with jumping)
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Near-dup clusters: connected components over the verified LSH
    * near-dup pairs (q29), reported per component. The full
    * pair-to-cluster dedup pipeline, oracle-gated against a DuckDB
    * recursive-CTE transitive closure. */
  def nearDupComponents(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = TextQueries.lshNearDupPairsAnd(spark, sfDir)._1
      .select(col("d1").as("src"), col("d2").as("dst"))
    connectedComponents(pairs)
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_docs"), max(col("node")).as("max_doc"))
      .orderBy(col("comp"))
  }

  /** q120 — leakage-safe train/val/test split: documents are assigned to
    * splits by their near-dup COMPONENT (q58's clusters), not
    * individually, so no near-duplicate pair ever straddles a split —
    * the contamination control every eval pipeline needs. Singleton docs
    * are their own component. Assignment is the md5-permille of the
    * component label (800/100/100), deterministic in both engines.
    *
    * Scale shape: q29 candidates + CC (edge-proportional, bounded driver
    * fast path) + one broadcast-able component join + one report agg. */
  def leakageSafeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = TextQueries.lshNearDupPairsAnd(spark, sfDir)._1
    val comps = connectedComponents(
      pairs.select(col("d1").as("src"), col("d2").as("dst")))
    val d = Inputs.documents(spark, sfDir).select(col("doc_id"))
    val hpm = TextQueries.tokHash(col("comp").cast("string"), "split") % 1000
    d.join(comps, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
      .withColumn("split",
        when(hpm < 800, "train").when(hpm < 900, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("comp")).as("n_comps"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("split"))
  }

  val oracle: Map[String, String] = Map(
    "q120_leakage_split" ->
      (s"WITH RECURSIVE ${TextQueries.lshPairsCte}, " +
        "p2 AS (SELECT d1, d2 FROM j WHERE jac_m >= 200), " +
        "eg AS (SELECT d1 AS u, d2 AS v FROM p2 UNION ALL SELECT d2, d1 FROM p2), " +
        "nn AS (SELECT DISTINCT u FROM eg), " +
        "reach(u, v) AS (SELECT u, u FROM nn UNION SELECT eg.u, r.v FROM eg JOIN reach r ON eg.v = r.u), " +
        "lab AS (SELECT u, min(v) AS comp FROM reach GROUP BY u), " +
        "ac AS (SELECT d.doc_id, coalesce(lab.comp, d.doc_id) AS comp FROM documents d LEFT JOIN lab ON d.doc_id = lab.u), " +
        "sp AS (SELECT doc_id, comp, CASE WHEN h < 800 THEN 'train' WHEN h < 900 THEN 'val' ELSE 'test' END AS split " +
        s"FROM (SELECT doc_id, comp, ${TextQueries.sqlTokHash("CAST(comp AS VARCHAR)", "split")} % 1000 AS h FROM ac)) " +
        "SELECT split, count(*) AS n_docs, count(DISTINCT comp) AS n_comps, " +
        "min(doc_id) AS min_doc, max(doc_id) AS max_doc FROM sp GROUP BY split ORDER BY split"),
    "q58_neardup_components" ->
      (s"WITH RECURSIVE ${TextQueries.lshPairsCte}, " +
        "p2 AS (SELECT d1, d2 FROM j WHERE jac_m >= 200), " +
        "e AS (SELECT d1 AS u, d2 AS v FROM p2 UNION ALL SELECT d2, d1 FROM p2), " +
        "n AS (SELECT DISTINCT u FROM e), " +
        "reach(u, v) AS (SELECT u, u FROM n UNION SELECT e.u, r.v FROM e JOIN reach r ON e.v = r.u), " +
        "lab AS (SELECT u, min(v) AS comp FROM reach GROUP BY u) " +
        "SELECT comp, count(*) AS n_docs, max(u) AS max_doc FROM lab " +
        "GROUP BY comp ORDER BY comp"),
  )
}
