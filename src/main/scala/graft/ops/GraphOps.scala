package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the step a
  * production dedup pipeline runs AFTER pairwise near-dup detection:
  * LSH + verification emits PAIRS (q20), but "keep one copy per
  * duplicate group" needs the transitive closure of those pairs, with a
  * canonical representative per group.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) expressed on
  * DataFrames. Both steps are a groupBy-min plus a join back on the
  * grouping key — bounded per-node state (no `collect_set` of whole
  * neighborhoods, which a hub node would blow up), each round a fixed
  * number of keyed shuffles, and convergence in O(log n) rounds to the
  * star graph rooted at each component's minimum node id.
  *
  * The driver loop per round collects exactly TWO scalars (edge count +
  * order-independent checksum) to test the fixpoint — control flow, not
  * data flow; the edge sets themselves never leave the cluster. Each
  * round's edge set is materialized with an EAGER localCheckpoint: a
  * plain persist() caches the data but leaves the round's full logical
  * plan in place, so Catalyst re-analyzes a tree that DOUBLES per round
  * — the iterative-algorithm lineage explosion (planning time goes
  * exponential long before data size matters). localCheckpoint re-roots
  * the plan at the materialized RDD, keeping per-round planning O(1);
  * superseded round RDDs are dropped by the context cleaner once
  * unreferenced. A production run on a fault-intolerant cluster would
  * use reliable `checkpoint()` to durable storage instead — same loop,
  * same truncation, recoverable blocks.
  */
object GraphOps {

  /** Connected components of the undirected graph given by `edges`
    * (columns `src`, `dst`; self-loops and duplicates tolerated).
    * Returns (`node`, `component`) for every node incident to a
    * non-self-loop edge (a node appearing ONLY in self-loops is not
    * emitted — both paths agree), where `component` is the smallest
    * node id in the node's component.
    *
    * Adaptive: when the edge list is ALREADY a driver-local relation of
    * at most `localThreshold` long-typed rows (q59's case — the verified
    * pair list was localized by the LSH step), components come from a
    * driver-side union-find: a distributed fixpoint loop costs seconds
    * of per-round stage scheduling that a 25-edge graph cannot amortize.
    * The same adaptive spirit as broadcast-vs-shuffle join selection; no
    * job runs to make the choice (the rows are read off the optimized
    * plan). Big or non-local edge sets take the distributed loop below;
    * GraphOpsSpec pins both paths and their equality.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 25,
      localThreshold: Int = 1 << 20): DataFrame = {
    localEdges(edges, localThreshold) match {
      case Some(pairs) =>
        val spark = edges.sparkSession
        val assign = unionFind(pairs).toSeq.map(p => Row(p._1, p._2))
        spark.createDataFrame(
          new java.util.ArrayList[Row](assign.asJava),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("node",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("component",
              org.apache.spark.sql.types.LongType, nullable = false))))
      case None => connectedComponentsDistributed(edges, maxRounds)
    }
  }

  /** The distributed large-star/small-star loop (see object scaladoc). */
  private[graft] def connectedComponentsDistributed(
      edges: DataFrame, maxRounds: Int = 25): DataFrame = {
    // LAZY localCheckpoint: the checksum action both materializes the
    // round's checkpoint and reads the fixpoint stats — one job per
    // round instead of an eager-checkpoint job plus a checksum job.
    var cur = normalize(edges).localCheckpoint(false)
    var stats: (Long, String) = checksum(cur)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = smallStar(largeStar(cur)).localCheckpoint(false)
      val nextStats = checksum(next)
      cur = next
      converged = nextStats == stats
      stats = nextStats
      rounds += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    // Fixpoint edges form stars (node -> component min). Roots appear
    // only on the dst side; give each its own (root, root) row.
    val assign = cur.select(col("src").as("node"), col("dst").as("component"))
      .union(cur.select(col("dst").as("node"), col("dst").as("component")))
      .distinct()
    // Settle the (small) assignment table so the caller holds a plain
    // result rather than a plan pinned to round RDDs.
    Caches.settle(assign, maxRows = 1 << 22)
  }

  /** Undirected edge set as a canonical directed form (src < dst),
    * deduplicated, self-loops dropped. */
  private def normalize(e: DataFrame): DataFrame =
    e.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") < col("dst"))
      .distinct()

  /** Both directions of every edge, no self-loops. */
  private def bidir(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))

  /** Large-star: every node links its strictly-LARGER neighbors to the
    * minimum of its closed neighborhood. One groupBy-min + one join on
    * the same key (the aggregate is map-side combinable; the join keys
    * share the aggregate's hash partitioning, so AQE plans the join
    * without a second full shuffle of the big side). */
  private def largeStar(e: DataFrame): DataFrame = {
    val b = bidir(e)
    val mins = b.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    // No intermediate distinct: duplicate edges cannot change any min,
    // and smallStar's terminal distinct canonicalizes the round's output
    // — one fewer shuffle per round.
    b.join(mins, "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** Small-star: every node links its not-larger neighbors AND itself to
    * the minimum among them. Same two-shuffle shape as largeStar. */
  private def smallStar(e: DataFrame): DataFrame = {
    val down = bidir(e).where(col("dst") < col("src"))
    val mins = down.groupBy(col("src")).agg(min(col("dst")).as("m"))
    val withM = down.join(mins, "src")
    withM.select(col("dst").as("src"), col("m").as("dst"))
      .union(mins.select(col("src"), col("m").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Edge rows read straight off the OPTIMIZED plan iff it folded to a
    * single long-typed LocalRelation within the size bound — no job, no
    * collect; anything else returns None. */
  private def localEdges(edges: DataFrame, threshold: Int): Option[Seq[(Long, Long)]] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.LongType
    edges.queryExecution.optimizedPlan match {
      case lr: LocalRelation
          if lr.data.length <= threshold &&
            lr.output.length == 2 && lr.output.forall(_.dataType == LongType) =>
        val si = lr.output.indexWhere(_.name == "src")
        val di = lr.output.indexWhere(_.name == "dst")
        if (si < 0 || di < 0) None
        else Some(lr.data.flatMap { r =>
          if (r.isNullAt(si) || r.isNullAt(di)) None
          else Some((r.getLong(si), r.getLong(di)))
        })
      case _ => None
    }
  }

  /** Path-compressed union-find, labels normalized to the component
    * minimum — the driver-side dual of the distributed loop. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    // Self-loop-only nodes are excluded, matching the distributed
    // path, whose normalize() drops self-loops before the loop ever
    // sees them — both paths emit exactly the nodes incident to a
    // non-self-loop edge.
    val nodes = edges.iterator.filter(e => e._1 != e._2)
      .flatMap(e => Iterator(e._1, e._2)).toSeq.distinct
    nodes.groupBy(find).valuesIterator
      .flatMap { ns => val m = ns.min; ns.iterator.map(_ -> m) }.toMap
  }

  /** Order-independent fingerprint of a distinct edge set: (count,
    * sum of per-edge hashes). Equal fingerprints across rounds ⇒ equal
    * sets (w.h.p.), which is the fixpoint test. The sum rides
    * decimal(38,0) — a LongType sum of full-range hashes overflows
    * under ANSI arithmetic. */
  private def checksum(e: DataFrame): (Long, String) = {
    val row = e.agg(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)).as("h")).head()
    (row.getLong(0), String.valueOf(row.get(1)))
  }
}
