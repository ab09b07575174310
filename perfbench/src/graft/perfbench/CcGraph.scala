package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, min, when}

import graft.pipeline.ConnectedComponents

/** `cc_graph`: connected components of a generated edge list through the
  * distributed large-star/small-star path of `ConnectedComponents.run`
  * (its single-task threshold set to 0, so the iterative path runs at a
  * size one run can repeat). The graph mixes long chains (many rounds),
  * one giant star (one hot node) and many small trees; node ids are
  * scrambled so a component's min id sits anywhere in it, and every
  * label is known by construction.
  */
final class CcGraph(ctx: Ctx) extends Workload {
  import CcGraph._
  private val spark = ctx.spark
  private var edges: DataFrame = _
  private var truth: DataFrame = _
  private var nEdges = 0L
  private var last: DataFrame = _

  def itemsName = "edges_per_s"
  def unitName = "op_p50_s"
  def scale = s"c$Chains-l$ChainLength-s$StarLeaves-t$SmallComponents"
  def nominalOpS = 17.0

  def generate(): Unit = {
    Seq(edges, truth).filter(_ != null).foreach(_.unpersist())
    import spark.implicits._
    val seed = ctx.seed
    edges = spark.range(Components).flatMap(c => edgesOf(seed, c))
      .toDF("src", "dst").localCheckpoint(true)
    nEdges = edges.count()
    // ground truth by construction: component = min scrambled id of the
    // nodes the generator put in it
    val nodes = spark.range(Components)
      .flatMap(c => (0 until sizeOf(seed, c)).map(j => (node(seed, c, j), c)))
      .toDF("id", "c")
    truth = nodes.join(nodes.groupBy("c").agg(min("id").as("component")), "c")
      .select("id", "component").localCheckpoint(true)
  }

  def op(tracer: Option[Tracer]): Outcome = {
    def call() = ConnectedComponents.run(edges, localThreshold = 0L).localCheckpoint(true)
    val t0 = System.nanoTime()
    val out = tracer match {
      case None => val o = call(); o.count(); o
      case Some(t) => t.span("ConnectedComponents.run")(call())(_.count())
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (last != null) last.unpersist()
    last = out
    Outcome(wall, nEdges / wall, Seq(wall), Checks.fingerprint(out, "id", "component"), () => ())
  }

  def check(lastOutcome: Outcome): (Double, Seq[String]) = {
    val got =
      if (!ctx.inject.contains("wrong_label")) last
      else {
        val victim = last.agg(min("id")).head().getLong(0)
        last.withColumn("component",
          when(col("id") === victim, col("component") + 1).otherwise(col("component")))
      }
    val expected = truth.count()
    val wrong = got.as("g").join(truth.as("t"), col("g.id") === col("t.id"), "full_outer")
      .where(col("g.component").isNull || col("t.component").isNull ||
        col("g.component") =!= col("t.component"))
      .count()
    val recall = 1.0 - wrong.toDouble / expected
    (recall, if (wrong == 0) Nil
      else Seq(s"cc_graph: $wrong of $expected node labels differ from the generator's"))
  }
}

object CcGraph {
  val Chains = 50
  val ChainLength = 64
  val StarLeaves = 20000
  val SmallComponents = 10000
  val Components: Long = Chains + 1 + SmallComponents
  /** Component index of the star. */
  val StarIndex: Long = Chains

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Node j of component c, scrambled by a seeded bijection of [0, 2^62). */
  def node(seed: Long, c: Long, j: Int): Long =
    ((c << 20 | j) * 0x9e3779b97f4a7c15L ^ mix(seed)) & 0x3fffffffffffffffL

  def sizeOf(seed: Long, c: Long): Int =
    if (c < Chains) ChainLength
    else if (c == StarIndex) StarLeaves + 1
    else 2 + Math.floorMod(mix(seed ^ c), 7L).toInt

  /** Edges of component c: a path, a star around node 0, or a random
    * tree; small trees also carry a duplicate reversed edge and a
    * self-loop, which the canonicalization must drop.
    */
  def edgesOf(seed: Long, c: Long): Seq[(Long, Long)] = {
    val n = sizeOf(seed, c)
    def id(j: Int) = node(seed, c, j)
    if (c < Chains) (0 until n - 1).map(j => (id(j), id(j + 1)))
    else if (c == StarIndex) (1 until n).map(j => (id(0), id(j)))
    else {
      val tree = (1 until n).map { j =>
        (id(Math.floorMod(mix(seed ^ (c << 8) ^ j), j.toLong).toInt), id(j))
      }
      tree ++ Seq(tree.head.swap, (id(0), id(0)))
    }
  }
}
