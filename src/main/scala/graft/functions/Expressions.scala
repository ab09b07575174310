package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftGlue
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the fingerprint cascade. Each one
  * generates a single static-kernel call inside whole-stage codegen
  * (see [[Kernels]]) — SURVEY.md §2.10 E2/E3/U1: the reference's numpy
  * kernels re-expressed as native expressions rather than UDFs, so the
  * signature stage stays one codegen'd map over the scan with zero
  * serialization tax.
  *
  * Every expression declares [[ImplicitCastInputTypes]]: the kernels cast
  * their inputs unchecked (`asInstanceOf[ArrayData]`/`UTF8String`), so
  * without declared input types a mistyped SQL call (e.g.
  * `simhash64('raw text')` instead of an array of shingle hashes)
  * surfaces as a ClassCastException inside the OPTIMIZER's constant
  * folding — far from the user's query — instead of a clean
  * analysis-time type error. Declared types also buy the standard
  * implicit numeric widenings (array<int> → array<bigint>) for free.
  */
object Expressions {

  /** text -> distinct word-k-gram shingle hashes (array<long>).
    * Bit-identical to the builtin formulation
    * array_distinct(transform(shingles, xxhash64)) — asserted in
    * TextFunctionsSpec — at ~one kernel call per row.
    */
  case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[GraftGlue.SqlAbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      Kernels.shingleHashSet(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.shingleHashSet($c, $k)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** shingle-hash array -> MinHash signature (array<long>, length numHashes). */
  case class MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[GraftGlue.SqlAbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      Kernels.minhashSig(input.asInstanceOf[ArrayData], numHashes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.minhashSig($c, $numHashes)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** shingle-hash array -> 64-bit SimHash fingerprint. */
  case class SimHash64(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[GraftGlue.SqlAbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      Kernels.simhash64(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simhash64($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** MinHash signature -> LSH band keys (array<long>, length bands). */
  case class BandKeys(child: Expression, bands: Int, rowsPerBand: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[GraftGlue.SqlAbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      Kernels.bandKeys(input.asInstanceOf[ArrayData], bands, rowsPerBand)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.Kernels.bandKeys($c, $bands, $rowsPerBand)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Exact Jaccard between two distinct-element long arrays. */
  case class JaccardLongSets(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[GraftGlue.SqlAbstractDataType] = Seq(ArrayType(LongType), ArrayType(LongType))
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      Kernels.jaccardLongSets(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.Kernels.jaccardLongSets($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** |A ∩ B| of two distinct-element long arrays. */
  case class IntersectCountLongSets(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[GraftGlue.SqlAbstractDataType] = Seq(ArrayType(LongType), ArrayType(LongType))
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any, b: Any): Any =
      Kernels.intersectCountLongSets(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.Kernels.intersectCountLongSets($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Deterministic cosine similarity over two float arrays. */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[GraftGlue.SqlAbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      Kernels.cosineSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.cosineSim($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** normalized text -> winnowing fingerprint hashes (array<long>). */
  case class WinnowHashes(child: Expression, w: Int, p: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[GraftGlue.SqlAbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      Kernels.winnowHashes(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], w, p)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.winnowHashes($c, $w, $p)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** float embedding -> indices of the nProbe nearest IVF centroids
    * (array<long>). Centroids are shipped to generated code as a
    * reference object, so assignment stays inside whole-stage codegen.
    */
  case class NearestCentroids(child: Expression,
                              centroids: Array[Array[Float]], nProbe: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[GraftGlue.SqlAbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      Kernels.nearestCentroids(input.asInstanceOf[ArrayData], centroids, nProbe)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("centroids", centroids, "float[][]")
      defineCodeGen(ctx, ev,
        c => s"graft.functions.Kernels.nearestCentroids($c, $ref, $nProbe)")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** text -> [n_tokens, dup_token_frac, top_bigram_frac] (array<double>)
    * in one kernel pass (the explode/groupBy formulation in
    * `Curation.repetitionStatsExploded` is the semantic oracle).
    */
  case class RepetitionStats(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[GraftGlue.SqlAbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      Kernels.repetitionStats(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.repetitionStats($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** text -> deflate compression ratio (double) — fixture-pinned
    * quality signal (see Kernels.compressionRatio).
    */
  case class CompressionRatio(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[GraftGlue.SqlAbstractDataType] = Seq(StringType)
    override def dataType: DataType = DoubleType
    override def nullSafeEval(input: Any): Any =
      Kernels.compressionRatio(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.compressionRatio($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Signed-random-projection sign-bit signature of a float embedding. */
  case class SrpSig(child: Expression, bits: Int, table: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[GraftGlue.SqlAbstractDataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      Kernels.srpSig(input.asInstanceOf[ArrayData], bits, table)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.srpSig($c, $bits, $table)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Generated-code handle on a broadcast [[Kernels.DfTable]]: the
    * value is fetched once per generated-class instance (per task), not
    * per row — `Broadcast.value` synchronizes.
    */
  private def dfTableState(ctx: CodegenContext, table: Broadcast[Kernels.DfTable]): String = {
    val ref = ctx.addReferenceObj("dfTableBroadcast", table,
      "org.apache.spark.broadcast.Broadcast")
    ctx.addMutableState("graft.functions.Kernels.DfTable", "dfTable",
      v => s"$v = (graft.functions.Kernels.DfTable) $ref.value();", forceInline = true)
  }

  /** shingle-hash array -> the same hashes rarest-first by the broadcast
    * document frequencies (see [[Kernels.rankByDf]]).
    */
  case class RankByDf(child: Expression, table: Broadcast[Kernels.DfTable])
      extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[GraftGlue.SqlAbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      Kernels.rankByDf(input.asInstanceOf[ArrayData], table.value)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val t = dfTableState(ctx, table)
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.rankByDf($c, $t)")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** shingle hash -> its broadcast document frequency (bigint). */
  case class DfOf(child: Expression, table: Broadcast[Kernels.DfTable])
      extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[GraftGlue.SqlAbstractDataType] = Seq(LongType)
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any = table.value.df(input.asInstanceOf[Long]).toLong
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val t = dfTableState(ctx, table)
      defineCodeGen(ctx, ev, c => s"(long) $t.df($c)")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // Column-level API
  def cosineSim(a: Column, b: Column): Column =
    GraftGlue.column(CosineSim(GraftGlue.expression(a), GraftGlue.expression(b)))
  def srpSig(v: Column, bits: Int, table: Int): Column =
    GraftGlue.column(SrpSig(GraftGlue.expression(v), bits, table))
  def shingleHashes(text: Column, k: Int): Column =
    GraftGlue.column(ShingleHashes(GraftGlue.expression(text), k))
  def minhashSig(shingles: Column, numHashes: Int): Column =
    GraftGlue.column(MinHashSig(GraftGlue.expression(shingles), numHashes))
  def simhash64(shingles: Column): Column =
    GraftGlue.column(SimHash64(GraftGlue.expression(shingles)))
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    GraftGlue.column(BandKeys(GraftGlue.expression(sig), bands, rowsPerBand))
  def jaccardSets(a: Column, b: Column): Column =
    GraftGlue.column(
      JaccardLongSets(GraftGlue.expression(a), GraftGlue.expression(b)))
  def intersectCount(a: Column, b: Column): Column =
    GraftGlue.column(
      IntersectCountLongSets(GraftGlue.expression(a), GraftGlue.expression(b)))
  def repetitionStats(text: Column): Column =
    GraftGlue.column(RepetitionStats(GraftGlue.expression(text)))
  def compressionRatio(text: Column): Column =
    GraftGlue.column(CompressionRatio(GraftGlue.expression(text)))
  def winnowHashes(text: Column, w: Int, p: Int): Column =
    GraftGlue.column(WinnowHashes(GraftGlue.expression(text), w, p))
  def nearestCentroids(v: Column, centroids: Array[Array[Float]], nProbe: Int): Column =
    GraftGlue.column(NearestCentroids(GraftGlue.expression(v), centroids, nProbe))
  def rankByDf(shingles: Column, table: Broadcast[Kernels.DfTable]): Column =
    GraftGlue.column(RankByDf(GraftGlue.expression(shingles), table))
  def dfOf(h: Column, table: Broadcast[Kernels.DfTable]): Column =
    GraftGlue.column(DfOf(GraftGlue.expression(h), table))
}
