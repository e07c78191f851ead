package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** URI canonicalization + connected-components entity resolution
  * (SURVEY.md §2.4, BASELINE.json:6: "URI canonicalization via salted-hash
  * dedup + connected-components entity resolution (GraphFrames-style
  * iterative join, not GraphX RDDs)").
  */
// Serializable: preContractPartitions' mapPartitions closure calls the
// object's union-find, which lifts the module reference into the task
// closure; the object is stateless so this costs nothing
object Canonicalizer extends Serializable {

  /** Star-round cap of [[connectedComponents]]; it converges in O(log n). */
  private val MaxIter = 50
  /** Reliable-checkpoint cadence, in rounds, when a checkpoint dir is set. */
  private val CheckpointEvery = 3

  /** C3: connected components over an undirected edge list via alternating
    * large-star / small-star DataFrame joins (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014 — the algorithm
    * GraphFrames uses). Converges in O(log n) rounds; every round is plain
    * joins + hash aggregates, no RDDs.
    *
    * Input: edges(src, dst) — any orientation, self-loops tolerated.
    * Output: (entity_id, canonical) covering every node that appears in an
    * edge; canonical = min node id of the component (string order).
    * Checkpoints every `CheckpointEvery` rounds to truncate lineage
    * (BASELINE.json:14); uses localCheckpoint when no checkpoint dir is
    * configured (local/test mode).
    *
    * `preContract` (default on) first collapses each INPUT PARTITION's
    * edges with the typed union-find and feeds only the resulting local
    * star edges (node → partition-local component min) into the rounds —
    * replacing partition-local structure with diameter-1 stars preserves
    * global components exactly while typically halving the star-round
    * count on graphs with locality (round-4: cc_600k bench 28 s → <20 s).
    * One narrow executor-side pass, no shuffle; memory is bounded by the
    * input-split edge count per task (a ~128 MB split of (long,long)
    * edges ≈ a few-million-entry map). Skipped for node types whose
    * driver ordering could differ from Spark's column ordering.
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame,
      smallGraphThreshold: Long = 100000L,
      preContract: Boolean = true): DataFrame = {
    val src = col("src"); val dst = col("dst")

    val cleaned = edges.select(src, dst).filter(src =!= dst)
    val contracted =
      if (preContract) preContractPartitions(cleaned) else cleaned

    // Broadcast-sized fast path: alias/sameAs dimension graphs are often
    // tiny relative to the corpus; a driver union-find avoids paying
    // O(log n) distributed rounds of fixed job overhead. (Driver collect
    // is allowed for broadcast-sized dims only — BASELINE.md design-scale
    // row.) The iterative star path below is the at-scale path and the
    // two are property-tested to agree.
    val dedup = contracted.distinct().cache()
    if (dedup.count() <= smallGraphThreshold &&
        locallySupported(dedup.schema.fields(0).dataType))
      return unionFindLocal(spark, dedup)

    // Star halves in WINDOW form (guide §2.4 "remove shuffles outright"):
    // m = min(Γ(u) ∪ {u}) is computed alongside the neighbor rows by a
    // window min over the src partition — ONE exchange + sort per half
    // round. The previous groupBy + self-join form paid three exchanges
    // and two SMJ sorts per half (agg partial exchange, join exchange,
    // distinct), measured ~2× slower per round on cc_600k. Intermediate
    // duplicates are tolerated throughout (window min is dup-safe), so
    // only small-star's final projection dedups — large-star's distinct
    // is dropped too (the set each round CONVERGES to is unchanged;
    // only intermediate cardinalities differ).

    // large-star: for each u over the symmetrized neighborhood, connect
    // all strictly larger neighbors to m = min(Γ(u) ∪ {u}).
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.union(e.select(dst.as("src"), src.as("dst")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
      und
        .withColumn("m", least(min(dst).over(w), src))
        .filter(dst > src)
        .select(dst.as("src"), col("m").as("dst"))
        .filter(src =!= dst)
    }

    // small-star: orient edges high→low, connect all smaller neighbors
    // and u itself to m = min of them. Sorted ascending by dst inside
    // the src partition, the first row carries m = its own dst, so the
    // per-group (u → m) star edge is emitted from the rn = 1 row — no
    // separate mins frame, no join, no union shuffle.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(src, dst).as("src"), least(src, dst).as("dst"))
        .filter(src =!= dst)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy("dst")
      val withM = dir
        .withColumn("m", min(dst).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
        .withColumn("rn", row_number().over(w))
      val rewired = withM.select(explode(
          when(col("rn") === 1,
            array(struct(dst.as("src"), col("m").as("dst")),
              struct(src.as("src"), col("m").as("dst"))))
            .otherwise(array(struct(dst.as("src"), col("m").as("dst")))))
          .as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      rewired.filter(src =!= dst).distinct()
    }

    // bit_xor, not sum: order-independent AND can't overflow — Spark 4
    // runs ANSI mode by default, where a long-sum overflow throws.
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    val hasCkptDir = spark.sparkContext.getCheckpointDir.isDefined
    val debug = sys.env.contains("SPARK_GRAFT_CC_DEBUG")
    var cur = dedup
    var prev = (-1L, 0L)
    var i = 0
    var converged = false
    while (!converged && i < MaxIter) {
      val tRound = System.nanoTime()
      // materialize every round: truncates the iterative plan's lineage
      // (no 2^k plan blowup) and makes the convergence checksum a cheap
      // scan of materialized blocks. A reliable checkpoint dir is used
      // when configured (cluster mode, BASELINE.json:14); local mode uses
      // executor-local blocks.
      val next =
        if (hasCkptDir && (i + 1) % CheckpointEvery == 0)
          smallStar(largeStar(cur)).checkpoint()
        else smallStar(largeStar(cur)).localCheckpoint()
      val cs = checksum(next)
      converged = cs == prev
      prev = cs
      if (debug) System.err.println(f"[graft] cc round $i: edges=${cs._1} " +
        f"${(System.nanoTime() - tRound) / 1e9}%.2f s")
      // next is materialized by the checksum action, so the previous
      // round's blocks (incl. the round-0 `dedup` cache) can be dropped
      cur.unpersist()
      cur = next
      i += 1
    }
    require(converged || i < MaxIter,
      s"connected components did not converge in $MaxIter rounds")
    // After convergence every edge is (node, componentMin); add the
    // identity rows for the minima themselves.
    cur.select(src.as("entity_id"), dst.as("canonical"))
      .union(cur.select(dst.as("entity_id"), dst.as("canonical")))
      .distinct()
  }

  /** Plain-Scala union-find over an in-memory edge list: node → component
    * min under `ord` — the SAME ordering Spark's least/min gives the
    * column type, so the fast path and the star path agree for every
    * supported node type (numeric min for numeric ids, lexicographic for
    * strings). Zero Spark jobs. */
  def componentsLocalT[T](edges: Seq[(T, T)])
      (implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by min id keeps canonical = component min
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    nodes.iterator.map(n => n -> find(n)).toMap
  }

  /** String-id convenience: the default component map of
    * [[graft.Pipeline.triples]]. */
  def componentsLocal(edges: Seq[(String, String)]): Map[String, String] =
    componentsLocalT(edges)

  /** Per-partition pre-contraction: union-find each input partition's
    * edge set locally (one typed mapPartitions — genuine per-partition
    * imperative logic, the documented exception to the no-RDD rule) and
    * emit the (node → local component min) star edges. The star of a
    * partition connects exactly the nodes that partition's edges connect,
    * so the union over partitions has the SAME global components; what
    * changes is the diameter — partition-local chains become depth-1
    * stars, which is what cuts the alternating-star round count.
    * Node types without a Spark-identical driver ordering pass through
    * uncontracted (same guard as the union-find fast path; the round-3
    * lexicographic-vs-numeric-min lesson). */
  private def preContractPartitions(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val s = edges.sparkSession
    import s.implicits._
    def star[T](it: Iterator[(T, T)])
        (implicit ord: Ordering[T]): Iterator[(T, T)] =
      componentsLocalT(it.toVector).iterator.filter { case (n, r) => n != r }
    edges.schema.fields(0).dataType match {
      case StringType =>
        edges.as[(String, String)].mapPartitions(it => star(it))
          .toDF("src", "dst")
      case LongType =>
        edges.as[(Long, Long)].mapPartitions(it => star(it))
          .toDF("src", "dst")
      case IntegerType =>
        edges.as[(Int, Int)].mapPartitions(it => star(it))
          .toDF("src", "dst")
      case _ => edges
    }
  }

  /** Node types the driver fast path supports with an ordering identical
    * to Spark's for that type; anything else takes the star path (which
    * is ordering-correct for every type by construction). */
  private def locallySupported(dt: org.apache.spark.sql.types.DataType)
      : Boolean = dt match {
    case org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.IntegerType => true
    case _ => false
  }

  /** Driver-side union-find over a broadcast-sized, deduped edge set;
    * same output contract AND same per-type ordering as the star path of
    * [[connectedComponents]] (a round-3 fix: this path used to cast ids
    * to string, silently swapping numeric min for lexicographic min on
    * long ids and disagreeing with the distributed path). */
  private def unionFindLocal(spark: SparkSession,
      dedup: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dt = dedup.schema.fields(0).dataType
    val out = dt match {
      case StringType =>
        val canon = componentsLocalT(dedup.as[(String, String)].collect().toSeq)
        spark.createDataset(canon.toSeq.sortBy(_._1)).toDF("entity_id", "canonical")
      case LongType =>
        val canon = componentsLocalT(dedup.as[(Long, Long)].collect().toSeq)
        spark.createDataset(canon.toSeq.sortBy(_._1)).toDF("entity_id", "canonical")
      case IntegerType =>
        val canon = componentsLocalT(dedup.as[(Int, Int)].collect().toSeq)
        spark.createDataset(canon.toSeq.sortBy(_._1)).toDF("entity_id", "canonical")
      case other =>
        throw new IllegalStateException(
          s"unionFindLocal on unsupported node type $other")
    }
    dedup.unpersist()
    out
  }

  /** C4: rewrite an id column through the component map; ids without a
    * component stay themselves. The map is broadcast: it has one row per
    * sameAs node, dimension-sized next to the rows it rewrites. The
    * pipeline does not call this: it resolves canonical ids once per
    * gazetteer entity on the driver ([[graft.Pipeline.triplesWithComponents]]). */
  def remap(df: DataFrame, idCol: String,
      components: DataFrame): DataFrame = {
    val comp = broadcast(components.withColumnRenamed("entity_id", idCol))
    df.join(comp, Seq(idCol), "left")
      .withColumn(idCol, coalesce(col("canonical"), col(idCol)))
      .drop("canonical")
  }

  /** C5: skew-salted equi-join (BASELINE.json:6 "salting for head-entity
    * skew"). Replicates the (small, broadcast-unfriendly-but-bounded)
    * right side k ways; the left side picks a deterministic salt from
    * `distCol`. Semantically ≡ left.join(right, key) — property-tested.
    * Complements AQE skew handling, which only splits sort-merge
    * partitions. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      distCol: String, k: Int = 8, joinType: String = "inner"): DataFrame = {
    // right/full outer would emit each unmatched right row k times (once
    // per salt replica) — only left-preserving join types are equivalent
    require(Set("inner", "left", "left_outer", "left_semi", "left_anti")
      .contains(joinType), s"saltedJoin does not support joinType=$joinType")
    val salted = right.withColumn("_salt",
      explode(array((0 until k).map(lit): _*)))
    left.withColumn("_salt", pmod(xxhash64(col(distCol)), lit(k)).cast("int"))
      .join(salted, Seq(key, "_salt"), joinType)
      .drop("_salt")
  }
}
