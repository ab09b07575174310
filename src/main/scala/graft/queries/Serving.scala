package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{checkpointed, release, withCheckpointed}

/** The reference's serving/query layer re-expressed as pure
  * DataFrame -> DataFrame functions (SURVEY.md §3.3): FilesDAO /
  * MatchesDAO filter + sort + count + paginate + n-hop graph expansion
  * semantics (`/root/reference/db/access/files.py`,
  * `db/access/matches.py`), over a docs table (any id type) and an
  * undirected canonical edge table edges(id_a, id_b, similarity).
  */
object Serving {

  /** Undirected edge table -> both-direction view (the reference always
    * queries both directions, `db/access/files.py:121-126`).
    */
  def bothDirections(edges: DataFrame): DataFrame =
    edges.select(col("id_a").as("src"), col("id_b").as("dst"), col("similarity"))
      .union(edges.select(col("id_b"), col("id_a"), col("similarity")))

  /** A4 counts pass (`db/access/files.py:100-110`, thresholds 48-49):
    * total / related (sim >= relatedMin) / duplicates (sim >= dupMin) /
    * unique, in one aggregation pass over a semi-join flag.
    */
  def counts(docs: DataFrame, edges: DataFrame,
             relatedMin: Double = 0.5, dupMin: Double = 0.8): DataFrame = {
    val perDoc = bothDirections(edges)
      .groupBy(col("src").as("doc_id"))
      .agg(max(col("similarity")).as("max_sim"))
    docs.select(col("id").as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("max_sim") >= relatedMin, 1).otherwise(0)).as("related"),
        sum(when(col("max_sim") >= dupMin, 1).otherwise(0)).as("duplicates"),
        sum(when(col("max_sim").isNull || col("max_sim") < relatedMin, 1)
          .otherwise(0)).as("unique_docs"))
  }

  /** O2/J6 list-files sort by match count (outer join + group,
    * `db/access/files.py:129-153`): every doc with its hit count,
    * ordered by hit_count desc then doc_id asc, offset/limit pagination
    * (`files.py:91-92` — determinism via the full sort key). `minSim`
    * is the RELATED/DUPLICATES sort threshold (`files.py:141-147`:
    * the outer-joined countable match carries `distance < threshold`,
    * so "sort by duplicates" counts only close matches) — 0.0 counts
    * every edge.
    */
  def listByMatchCount(docs: DataFrame, edges: DataFrame,
                       limit: Int = 20, offset: Int = 0,
                       minSim: Double = 0.0): DataFrame = {
    // filter only when a threshold was actually requested: at the
    // default 0.0 a null-similarity edge must keep counting (null >= 0
    // is null -> dropped), exactly as before the threshold existed
    val both = bothDirections(edges)
    val thresholded =
      if (minSim > 0.0) both.where(col("similarity") >= minSim) else both
    val cnt = thresholded
      .groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("hit_count"))
    val joined = docs.select(col("id").as("doc_id"))
      .join(cnt, Seq("doc_id"), "left_outer")
      .withColumn("hit_count", coalesce(col("hit_count"), lit(0L)))
    // offset+limit << n: sort+limit compiles to TakeOrderedAndProject
    // (per-partition top-k, tiny driver merge) — never a global
    // single-partition WindowExec over all docs
    joined.orderBy(col("hit_count").desc, col("doc_id").asc)
      .offset(offset).limit(limit)
  }

  /** J8 semi/anti-join membership: docs having (or not having) any match
    * with similarity >= thr (`db/access/files.py:113-118,170-190`).
    */
  def withMatches(docs: DataFrame, edges: DataFrame, thr: Double,
                  has: Boolean = true): DataFrame = {
    val matched = bothDirections(edges).where(col("similarity") >= thr)
      .select(col("src").as("id")).distinct()
    docs.join(matched, Seq("id"), if (has) "left_semi" else "left_anti")
  }

  /** J9 n-hop BFS cluster expansion (`db/access/matches.py:44-126`):
    * frontier loop with seen-set dedup and hop tracking; returns
    * (doc_id, hop = min hops from source). Edges optionally restricted
    * to a similarity band [minSim, maxSim] (`matches.py:118-124`).
    */
  def nHopCluster(edges: DataFrame, sourceId: Any, hops: Int,
                  minSim: Double = 0.0, maxSim: Double = 1.0): DataFrame = {
    // same convention as listByMatchCount: at the no-band default a
    // null-similarity edge must still connect (null >= 0.0 is null →
    // an unconditional filter would silently drop it), so the filter
    // only exists when a band was actually requested
    val banded =
      if (minSim <= 0.0 && maxSim >= 1.0) bothDirections(edges)
      else bothDirections(edges)
        .where(col("similarity") >= minSim && col("similarity") <= maxSim)
    withCheckpointed(banded.select(col("src"), col("dst"))) { (e, _) =>
      var seen = edges.sparkSession.createDataFrame(
        Seq(Tuple1(sourceId.toString))).toDF("doc_id")
        .select(col("doc_id").cast(e.schema("src").dataType),
          lit(0).as("hop"))
      var frontier = seen
      // the seed frontier is nonempty by construction, so the emptiness
      // check rides the row count observed in each hop's checkpoint job
      // instead of a separate count or limit(1) probe per iteration;
      // `seen` stays a lazy union of the checkpointed frontiers — its
      // plan depth is bounded by `hops`, so a per-hop re-checkpoint of
      // the union would be pure job overhead
      var frontierNonEmpty = true
      var h = 0
      // the filled frontiers are the result's; a later hop that fails
      // releases them before the error propagates
      var filled = List.empty[DataFrame]
      try while (h < hops && frontierNonEmpty) {
        h += 1
        val (next, n) = checkpointed(frontier.select(col("doc_id").as("src"))
          .join(e, "src").select(col("dst").as("doc_id"))
          .distinct()
          .join(seen.select("doc_id"), Seq("doc_id"), "left_anti")
          .withColumn("hop", lit(h)))
        filled ::= next
        frontierNonEmpty = n("rows") != 0L
        seen = seen.union(next)
        frontier = next
      } catch { case t: Throwable => filled.foreach(release); throw t }
      seen
    }
  }

  /** Deterministic result slice of the n-hop expansion
    * (`db/access/matches.py:128-142`: the expansion is sorted by id and
    * offset/limit-sliced before hydration). Sort+offset+limit compiles
    * to TakeOrderedAndProject — no global window.
    */
  def nHopSlice(edges: DataFrame, sourceId: Any, hops: Int,
                offset: Int = 0, limit: Int = 100,
                minSim: Double = 0.0, maxSim: Double = 1.0): DataFrame =
    nHopCluster(edges, sourceId, hops, minSim, maxSim)
      .orderBy(col("doc_id").asc)
      .offset(offset).limit(limit)

  /** ilike path search (`db/access/files.py:156-160`) + extension-suffix
    * filter (`files.py:162-168`: OR of case-insensitive `%.ext` suffix
    * matches) + metadata-presence semi/anti filter (`files.py:170-180`:
    * `Files.exif.has()` / `~has()` against the exif satellite — here a
    * metadata table keyed by url, e.g. [[graft.functions.PageMetadata]]
    * output; the reference's audio-presence filter `files.py:182-190`
    * — `exif.has(Audio_Duration > 0)` — is this same filter with the
    * metadata table pre-filtered on the media predicate) + date-range
    * filter (`files.py:192-203`) over a pages-like
    * table, composed from a filter spec; metadata sort (`files.py:147-152`
    * — the exif-duration/date sort analog): columns prefixed '-' sort
    * descending, url appended as the deterministic tiebreaker, applied
    * with offset/limit pagination (top-k plan, no global window).
    */
  def listFiles(pages: DataFrame,
                pathContains: Option[String] = None,
                extensions: Seq[String] = Nil,
                langIn: Seq[String] = Nil,
                minTextLen: Option[Int] = None,
                tsFrom: Option[java.sql.Timestamp] = None,
                tsTo: Option[java.sql.Timestamp] = None,
                metaTable: Option[DataFrame] = None,
                hasMeta: Option[Boolean] = None,
                sortBy: Seq[String] = Nil,
                offset: Int = 0,
                limit: Option[Int] = None): DataFrame = {
    var df = pages
    pathContains.foreach(q => df = df.where(lower(col("url")).contains(q.toLowerCase)))
    if (extensions.nonEmpty) {
      // extension of the PATH, not the raw url: "…/doc.pdf?download=1"
      // is a pdf (same [?#]-tail handling as PageMetadata's url_ext,
      // so the two surfaces agree on which pages carry an extension)
      val urlPath = regexp_replace(lower(col("url")), "[?#].*$", "")
      df = df.where(extensions
        .map(e => urlPath.endsWith(s".${e.toLowerCase}"))
        .reduce(_ || _))
    }
    if (langIn.nonEmpty) df = df.where(col("lang").isin(langIn: _*))
    minTextLen.foreach(n => df = df.where(length(col("text")) >= n))
    hasMeta.foreach { has =>
      val m = metaTable.getOrElse(sys.error(
        "hasMeta filter requires a metadata table (metaTable = Some(...))"))
      df = df.join(m.select(col("url")), Seq("url"),
        if (has) "left_semi" else "left_anti")
    }
    tsFrom.foreach(t => df = df.where(col("warc_ts") >= lit(t)))
    tsTo.foreach(t => df = df.where(col("warc_ts") < lit(t)))
    if (sortBy.nonEmpty || limit.isDefined || offset > 0) {
      val keys = sortBy.map {
        case s if s.startsWith("-") => col(s.drop(1)).desc
        case s => col(s).asc
      } :+ col("url").asc
      df = df.orderBy(keys: _*)
      // offset applies with or without a limit — an offset-only page
      // request must not silently return unskipped rows
      if (offset > 0) df = df.offset(offset)
      limit.foreach(n => df = df.limit(n))
    }
    df
  }
}
