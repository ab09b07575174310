package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions: the `spark.sql.extensions=graft.GraftExtensions`
  * deployment path must make every graft SQL function available on a
  * session that never called GraftFunctions.registerAll.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects all graft functions at session build") {
    // Ensure a SparkContext exists (reused by the new session below).
    // `spark.sql.extensions` is a *static* conf read from the SparkContext
    // at session construction, so the conf-string path can't be exercised
    // against this suite's shared context; withExtensions applies the very
    // same instance Spark's loader would instantiate from the conf string.
    val base = SparkSpecBase.session
    val prior = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // instantiate via the conf-string FQN exactly as Spark's extension
      // loader does (Class.forName + no-arg ctor) so a class rename or
      // package drift breaks THIS test, not a customer's spark-submit
      val ext = Class.forName("graft.GraftExtensions")
        .getDeclaredConstructor().newInstance()
        .asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(ext)
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
      assert(s2 ne base, "extensions test needs a freshly-built session")

      val row = s2.sql(
        """SELECT
          |  size(minhash_sig(shingle_hashes('a b c d e f g', 3), 64)) AS nsig,
          |  simhash64(shingle_hashes('a b c d', 2)) AS sh,
          |  size(band_keys(minhash_sig(shingle_hashes('a b c d e', 2), 12), 4, 3)) AS nbands,
          |  jaccard_sets(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j,
          |  cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cos,
          |  srp_sig(array(0.5F, -0.25F, 1.0F), 16, 7) AS srp,
          |  size(winnow_hashes('abcdefghijklmnop', 4, 3)) AS nwin
          |""".stripMargin).collect()(0)

      assert(row.getInt(0) == 64)
      assert(row.getInt(2) == 4)
      assert(math.abs(row.getDouble(3) - 0.5) < 1e-12)
      assert(math.abs(row.getDouble(4) - 1.0) < 1e-9)
      assert(!row.isNullAt(5)) // packed SRP signature (BIGINT)
      assert(row.getInt(6) > 0)

      // Arity misuse surfaces as an analysis-time error, not a crash later.
      val err = intercept[Exception](s2.sql("SELECT simhash64(1, 2)").collect())
      assert(err.getMessage.contains("simhash64 expects 1 arguments"))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach { p => SparkSession.setDefaultSession(p); SparkSession.setActiveSession(p) }
    }
  }
}
