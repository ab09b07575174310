package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the clustering
  * step. Semantics: exactly the reference's DBSCAN(min_samples=1, eps)
  * over the thresholded pair graph, i.e. transitive closure of the match
  * pairs (`winnow/duplicate_detection/duplicate_detector.py:20-40`);
  * component id = min member id, so cluster ids are content-derived and
  * invariant across partitioning/parallelism (SURVEY.md §7.4(4)).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) expressed as
  * DataFrame joins/aggregations. Converges in O(log^2 n) rounds; each
  * round is two shuffles. Lineage is cut with [[checkpointed]] every
  * round so plans stay bounded on deep graphs; the round's convergence
  * fingerprint is observed inside that checkpoint job. Each round
  * releases the checkpoint it supersedes, and a failing run releases
  * the live one, so only the result's own checkpoint stays persisted.
  */
object ConnectedComponents {

  /** Edge-count threshold below which the component resolution runs as a
    * single-task union-find instead of the iterative join algorithm.
    * Rationale: each large/small-star round costs a fixed number of
    * driver round-trips; when the (already deduplicated, thresholded)
    * pair graph fits one task comfortably, a local pass is both faster
    * and produces the identical content-derived labels. At 100 TB the
    * pair graph exceeds this and the distributed path engages. Both
    * paths are exercised by ServingAndGraphSpec.
    */
  val LocalThreshold: Long = 4L * 1000 * 1000

  /** edges(src, dst) of any orderable key type ->
    * assignments(id, component) for every node incident to an edge.
    */
  def run(edges: DataFrame, maxIterations: Int = 50,
          localThreshold: Long = LocalThreshold): DataFrame = {
    var (e, fp) = canonicalEdges(edges)
    val (nEdges, _) = fp
    if (nEdges <= localThreshold) return localRun(e)

    var iter = 0
    var converged = false
    try while (!converged && iter < maxIterations) {
      // large-star: for each node u, connect every strictly-larger
      // neighbor w to m = min(Gamma(u) ∪ {u})
      val largeNbr = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val lsMin = largeNbr.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val ls = largeNbr.join(lsMin, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // u > v by construction
        .where(col("u") =!= col("v"))
        .distinct()

      // small-star: edges are directed (u -> v, u > v); per u connect all
      // its smaller neighbors and u itself to m = min of them
      val ssMin = ls.groupBy("u").agg(min(col("v")).as("m"))
      val ss = ls.join(ssMin, "u")
        .select(col("v").as("u"), col("m").as("v")) // v >= m
        .union(ssMin.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
      val (next, values) = checkpointed(ss, fingerprint: _*)
      release(e)
      e = next
      val fpNew = graft.store.TxLog.fingerprintOf(values)
      converged = fpNew == fp
      fp = fpNew
      iter += 1
    } finally if (!converged) release(e)
    require(converged, s"connected components did not converge in $maxIterations rounds")

    // e is now a star forest: (member, root). Add roots themselves.
    e.select(col("u").as("id"), col("v").as("component"))
      .union(e.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** Canonical undirected edges as (u, v) with u > v, self-loops and
    * duplicates dropped, checkpointed, with their fingerprint (the edge
    * count comes first).
    */
  private[graft] def canonicalEdges(edges: DataFrame): (DataFrame, (Long, Long)) = {
    val (e, values) = checkpointed(edges
      .select(
        greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct(), fingerprint: _*)
    (e, graft.store.TxLog.fingerprintOf(values))
  }

  /** The convergence fingerprint of an edge checkpoint (row count,
    * order-free content hash), observed inside the checkpoint job, so a
    * round costs no extra job. Labels only decrease monotonically, so an
    * unchanged fingerprint means an unchanged edge set (collision prob
    * ~2^-64). The fold is the shared duplicate-sensitive one of
    * [[graft.store.TxLog.contentFingerprint]] (wrap-around hash sum)
    * rather than a bit_xor fold — the `.distinct()` on every round's
    * output makes even-multiset XOR cancellation impossible here, but
    * the sum fold holds without that precondition being load-bearing.
    */
  private def fingerprint = graft.store.TxLog.fingerprintAggs(Seq(col("u"), col("v")))

  /** Single-task path-compressed union-find over a small edge set,
    * executed as ONE Spark task via a 1-partition mapPartitions (the
    * data never leaves the executors). Labels are the same
    * content-derived min-member ids as the distributed path.
    */
  private def localRun(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val idType = e.schema("u").dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType, nullable = false),
      org.apache.spark.sql.types.StructField("component", idType, nullable = false)))
    // natural-order compare matching Spark's `least`/`greatest` on the
    // id type: every orderable Spark id type (numbers, strings,
    // timestamps, decimals) collects as a same-class java.lang
    // Comparable, so compareTo IS the Spark ordering — a toString
    // fallback would label e.g. Double components by string order,
    // diverging from the distributed path ("10.0" < "2.0")
    def lt(a: Any, b: Any): Boolean = a match {
      case x: java.lang.Comparable[_] if b != null && b.getClass == x.getClass =>
        x.asInstanceOf[java.lang.Comparable[Any]].compareTo(b) < 0
      case x => String.valueOf(x) < String.valueOf(b)
    }
    e.coalesce(1).mapPartitions { it =>
      val rows = it.toArray
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var root = x
        while (parent.containsKey(root) && parent.get(root) != root)
          root = parent.get(root)
        var cur = x
        while (parent.containsKey(cur) && parent.get(cur) != cur) {
          val nxt = parent.get(cur); parent.put(cur, root); cur = nxt
        }
        if (!parent.containsKey(root)) parent.put(root, root)
        root
      }
      rows.foreach { r =>
        val (ru, rv) = (find(r.get(0)), find(r.get(1)))
        if (ru != rv) {
          if (lt(ru, rv)) parent.put(rv, ru) else parent.put(ru, rv)
        }
      }
      val seen = new java.util.LinkedHashMap[Any, Any]()
      rows.foreach { r =>
        seen.put(r.get(0), find(r.get(0)))
        seen.put(r.get(1), find(r.get(1)))
      }
      val iter = seen.entrySet().iterator()
      new Iterator[Row] {
        override def hasNext: Boolean = iter.hasNext
        override def next(): Row = {
          val kv = iter.next(); Row(kv.getKey, kv.getValue)
        }
      }
    }(Encoders.row(outSchema))
  }
}
