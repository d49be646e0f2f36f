package graft.operators

import graft.operators.Materialize.MaterializeOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the clustering step after
  * near-dup detection: pairs (a, b) chain into groups, and a pipeline
  * keeps one representative per group. Labels converge to the MINIMUM
  * id reachable from each node, so the representative is the group's
  * min id — the same survivor rule as [[Dedup.remapByKey]].
  *
  * Algorithm: min-label propagation. Each round every node takes the
  * min of its own label and its neighbours' labels; a round is one
  * join + one aggregate, all key-partitioned — no driver-side graph.
  * The driver coordinates ROUNDS (a scalar changed-count per round,
  * the standard shape for iterative graph algorithms on Spark); with
  * pointer jumping, rounds are O(log diameter). Near-dup graphs are
  * dense clusters with tiny diameters (2-3 rounds); for adversarial
  * or unknown graph shapes use [[componentsStar]] — same output
  * contract, O(log n) rounds regardless of diameter (measured
  * comparison in PERF.md, "Components at 10× and on an adversarial
  * chain").
  */
object ConnectedComponents {

  /** Per-partition union-find pre-contraction: each task runs
    * path-compressed min-rooted union-find over ITS edges only and
    * emits star edges (node → local-component min) plus a self-loop
    * per local root (preserving the node universe). The output edge
    * set is connectivity-equivalent to the input — merging edges
    * within any subset of the graph never connects nodes that were
    * not already connected, and every input edge's endpoints share a
    * local root — but it is at most one edge per distinct node, and
    * its diameter is ≤ 2× the number of partitions a component spans.
    *
    * This is the standard opening move for distributed connected
    * components (GraphX/GraphFrames do the same): the driver-
    * coordinated rounds that follow start from a graph whose size
    * tracks the NODE count (not the edge count — a dense near-dup
    * cluster's K² pairs collapse inside the tasks holding them, no
    * shuffle) and whose diameter tracks partition spread, not chain
    * length. Memory per task is one hash map over the partition's
    * distinct node ids — bounded by the partition size the upstream
    * already chose, never the whole graph.
    */
  private[operators] def localContract(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.as[(Long, Long)].mapPartitions { it =>
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      it.foreach { case (a, b) =>
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      import scala.jdk.CollectionConverters._
      parent.keySet().iterator().asScala.map(n => (n, find(n)))
    }.toDF("src", "dst")
  }

  /** (node, component) for every node in `edges`; component = min
    * reachable id. Deterministic; `maxIter` bounds pathological
    * diameters (throws rather than returning silently-unconverged
    * labels). `preContract` (default on) runs the per-partition
    * union-find pass first — see [[localContract]].
    */
  def components(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25, preContract: Boolean = true): DataFrame = {
    Dedup.requireLongCastableId(edges, srcCol)
    Dedup.requireLongCastableId(edges, dstCol)
    // checkpoint the PROJECTED input first: the symmetrizing union below
    // scans its child plan twice (the two branches are different
    // projections, so no exchange reuse) — for an expensive upstream
    // like a near-dup pair join that would compute the pairs twice.
    val projected = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val e = (if (preContract) localContract(projected) else projected)
      .materialized
    // checkpoint (not cache) everywhere the loop re-reads a frame: an
    // iterative plan that only CACHES still carries its whole logical
    // history, and each round references the prior round twice — the
    // plan TREE doubles per iteration and the driver dies formatting it
    // long before any data pressure. Checkpointing truncates lineage to
    // the materialized blocks, the standard shape for iterative graph
    // algorithms on Spark. [[Materialize]] picks the strategy: local
    // blocks by default, reliable DFS checkpoints (survive executor
    // loss) when spark.graft.checkpoint.dir is set.
    val sym = e
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .materialized
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .materialized
    var changed = 1L
    var iter = 0
    while (changed > 0) {
      if (iter >= maxIter)
        throw new IllegalStateException(
          s"not converged after $maxIter rounds — graph diameter too " +
            "large for plain label propagation; use star-contraction")
      val nbrMin = sym.join(labels, col("dst") === col("node"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nbr_min"))
      val stepped = labels.join(nbrMin, labels("node") === nbrMin("src"), "left")
        .select(labels("node"), labels("label").as("_old"),
          least(labels("label"), coalesce(col("nbr_min"), labels("label"))).as("label"))
      // pointer jumping (Shiloach–Vishkin): also take the label OF the
      // label — path lengths to the component min roughly halve per
      // round, so long chains converge in O(log diameter) rounds
      // instead of O(diameter). One extra self-join on the (small)
      // label table per round.
      val jumpTo = stepped.select(col("node").as("jn"), col("label").as("jl"))
      val jumped = stepped
        .join(jumpTo, stepped("label") === col("jn"), "left")
        .select(stepped("node"), stepped("_old"),
          least(stepped("label"), coalesce(col("jl"), stepped("label"))).as("label"))
        .materialized
      changed = jumped.filter(col("label") < col("_old")).count()
      labels = jumped.select("node", "label")
      iter += 1
    }
    labels.withColumnRenamed("label", "component")
  }

  /** Star-contraction connected components (alternating large-star /
    * small-star, Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — the scale path for HIGH-DIAMETER graphs.
    *
    * Each round is two edge rewrites, both a single window aggregate
    * over the edge list partitioned by node (no joins inside a round):
    *
    *  - large-star: every node u links each strictly-larger neighbour
    *    to `min(N(u) ∪ {u})` — long tails collapse onto small ids;
    *  - small-star: canonicalized (hi → lo) edges relink each node's
    *    smaller neighbours (and itself) to the neighbourhood min —
    *    stars flatten.
    *
    * The edge list contracts toward a forest of stars rooted at each
    * component's min id in O(log n) rounds REGARDLESS of diameter —
    * label propagation (even pointer-jumped) pays O(log d) rounds of a
    * join per round, while each star round is cheaper (one shuffle per
    * rewrite) and the edge set shrinks geometrically. Convergence is an
    * exact set comparison (anti-join both ways), not a hash heuristic.
    *
    * Same output contract as [[components]]: (node, component) with
    * component = min reachable id; the spec asserts equality.
    */
  def componentsStar(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50, preContract: Boolean = true): DataFrame = {
    Dedup.requireLongCastableId(edges, srcCol)
    Dedup.requireLongCastableId(edges, dstCol)
    // checkpoint the projected input once: it feeds the node universe
    // plus both branches of largeStar's symmetrizing union — three
    // scans of what may be an expensive near-dup pair join otherwise.
    // localContract emits a self-loop per local root, so the node
    // universe below survives contraction unchanged.
    val projected = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val raw = (if (preContract) localContract(projected) else projected)
      .materialized
    // node universe BEFORE dropping self-loops — a node whose only edge
    // is (v, v) is still a (singleton) component
    val nodes = raw.select(col("src").as("node"))
      .unionByName(raw.select(col("dst").as("node")))
      .distinct()
      .materialized
    val in = raw.filter(col("src") =!= col("dst"))
    import org.apache.spark.sql.expressions.Window

    // large-star: symmetric view, neighbourhood min per src via one
    // window (m = least(src, min(dst) over src)); emit (dst, m) for
    // every dst > src. Output is canonical (bigger, smaller).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val w = Window.partitionBy(col("src"))
      sym.withColumn("m", least(col("src"), min(col("dst")).over(w)))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // small-star: edges already (hi, lo); relink every lo (and hi) to
    // the neighbourhood min. Emitting (hi, m) keeps hi attached; the
    // lo = m edge is the self-loop to drop.
    def smallStar(e: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("src"))
      val withMin = e.withColumn("m", min(col("dst")).over(w))
      withMin.select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(withMin.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    var e = largeStar(in).materialized
    var converged = false
    var iter = 0
    while (!converged) {
      if (iter >= maxIter)
        throw new IllegalStateException(
          s"star contraction not converged after $maxIter rounds")
      val next = largeStar(smallStar(e)).materialized
      // both sides are distinct sets, so equal counts + empty one-way
      // difference ⇒ set equality (one difference job, not two)
      converged = next.count() == e.count() && next.exceptAll(e).isEmpty
      e = next
      iter += 1
    }
    // converged edge set is a forest of stars (node → component min);
    // nodes absent as src are the roots themselves. min() guards the
    // (impossible at convergence, cheap to enforce) multi-parent case.
    val roots = e.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("root"))
    nodes.join(roots, Seq("node"), "left")
      .select(col("node"), coalesce(col("root"), col("node")).as("component"))
  }

  /** Survivor remap derived from components: every non-representative
    * node mapped to its component's min id — the transitive closure of
    * pairwise near-dup remapping.
    */
  def componentRemap(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    components(edges, srcCol, dstCol)
      .filter(col("node") =!= col("component"))
      .select(col("node"), col("component").as("survivor"))
}
