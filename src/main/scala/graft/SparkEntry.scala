package graft

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import graft.dedup.{Clusters, Decontaminate, Dedup, MinHashLsh, SimHash, SubstrDedup}
import graft.io.Gsod
import graft.multimodal.{ImageDedup, Multimodal}
import graft.operators.{AsofJoin, BloomJoin, Funnel, RangeJoin, Salting, Sampling, Scd2}
import graft.pipeline.TrainingPipeline
import graft.sources.BucketedTables
import graft.sim.{AnnLsh, IvfFlat, IvfPq, KMeans, ProductQuantizer, VectorSim}
import graft.skyline.{Max, Min, ReverseSkyline, SkyDim, SkyMr, SkylineOp, SkylineSpec}
import graft.stats.{DistinctSketch, QuantileSketch, RangeStats}
import graft.text.{Bm25, Bpe, InvertedIndex, LmScore, Pii, QualityFilters, TextFunctions}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query takes (spark, sfDir) and reads the driver-generated
  * parquet tables; every oracle is equivalent ANSI SQL for DuckDB over
  * the same tables. Column names are aliased identically on both sides
  * (the driver's compare sorts columns by name before hashing), and
  * both sides ORDER BY the same canonical key.
  */
object SparkEntry {

  /** Collision-free staging tag for tmpdir paths and helper table
    * names: a readable slug of the data dir plus an md5 prefix of the
    * raw dir string, so two distinct dirs (which the slug alone could
    * conflate) can never map to the same staged artifact. */
  private[graft] def stageTag(dir: String): String = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    dir.replaceAll("[^0-9A-Za-z]", "_") + "_" + hex
  }

  /** Publish `df` as a RANGE-CLUSTERED commit-log table (delegates to
    * [[graft.sources.CommitLog.replaceClustered]] — one shuffle, one
    * stats scan, one commit, any bucket count). */
  private[graft] def commitClustered(
      s: SparkSession,
      df: DataFrame,
      table: String,
      bucketCol: String,
      statsCol: String): Unit = {
    graft.sources.CommitLog.replaceClustered(s, df, table, bucketCol, statsCol)
    ()
  }

  /** Skyline spec used by the flagship + oracled skyline queries:
    * cheapest (min price), best discount (max), earliest ship (min) —
    * the Pareto front a buyer would consider. */
  private[graft] val lineitemSpec = SkylineSpec(Seq(
    SkyDim("l_extendedprice", Min),
    SkyDim("l_discount", Max),
    SkyDim("l_shipdate", Min)))

  /** Shared containment pair set (round-9 directive): both
    * q_dedup_containment_survivors derives from an AT-REST pair
    * artifact (round-9 directive #6): the first access runs
    * `Dedup.containmentPairs` ONCE per (session, corpus) and writes
    * its (small, threshold-bounded) result to parquet; every later
    * access — the survivors view, audits, repeat invocations — reads
    * the artifact. Durable storage, not an in-memory memo, because a
    * cached frame dies with any `clearCache()` (Bench's per-query
    * hygiene evicted the round-8 memo and BOTH queries silently
    * recomputed the postings join, 7.4 s + 7.0 s); the at-rest form is
    * the same pattern as the IVF/inverted indexes and is exactly how a
    * 100 TB pipeline shares a dedup-pair stage across jobs.
    * q_dedup_containment itself computes the pairs fresh — it IS the
    * postings stage, and its bench row should keep pricing it.
    */
  private[graft] val containmentPairsPath =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()
  private[graft] def containmentPairsAtRest(s: SparkSession, dir: String): DataFrame = {
    val path = containmentPairsPath.computeIfAbsent((s, dir), _ => {
      val p = java.nio.file.Files
        .createTempDirectory("graft_containment_pairs").toString
      val pairs = Dedup.containmentPairs(
        Tables.load(s, dir, "documents"), "text", "doc_id",
        n = 3, threshold = 0.6)
      pairs.write.mode("overwrite").parquet(p)
      pairs.unpersist()
      p
    })
    s.read.parquet(path)
  }

  /** Merge rounds for the corpus-trained BPE tokenizer — enough to
    * learn real multi-char subwords on this vocabulary while keeping
    * the oracle's round-unrolled CTE chain reviewable.
    */
  private[graft] val BpeSteps = 16

  /** One BPE model per (session, corpus): q_bpe, q_bpe_encode and
    * q_token_budget_bpe all derive from the SAME training run — the
    * tokenizer is trained once and reused, exactly as a pipeline
    * would.
    */
  private[graft] val bpeMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Bpe.Model]()
  private[graft] def bpeModelFor(s: SparkSession, dir: String): Bpe.Model =
    bpeMemo.computeIfAbsent((s, dir), _ =>
      Bpe.train(Tables.load(s, dir, "documents"), "text", BpeSteps))

  /** Deterministic image fixture for the perceptual-hash dedup
    * queries: checkerboard gray PNGs whose GEOMETRY (and therefore
    * dHash) is keyed by doc_id % 41 while the two TONES vary per doc —
    * every class is a cluster of near-identical images (same gradient
    * structure, different brightness), the exact invariance dHash is
    * built for. Encoded through the real PNG codec; the oracle
    * computes the same hashes closed-form, so the query checks
    * decode → resample → hash end to end (the q_multimodal_image
    * pattern).
    */
  private[graft] def imageDedupFixture(s: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.row(StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", BinaryType))))
    Tables.load(s, dir, "documents").select("doc_id").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val cls = id % 41
        val w = (cls % 13 + 4).toInt
        val h = (cls % 7 + 3).toInt
        val v1 = (20 + id % 7).toInt
        val v2 = (180 + id % 11).toInt
        val px = Array.tabulate(h, w)((y, x) => if ((x + y) % 2 == 0) v1 else v2)
        Row(id, Multimodal.encodeGrayPng(px))
      }
    }(enc)
  }

  /** Deterministic messy-URL fixture for the UrlOps queries: cased
    * schemes/hosts, default and explicit ports, lowercase
    * percent-escapes, empty/non-empty queries, fragments — every
    * normalization branch exercised; the oracle builds the IDENTICAL
    * strings from the same orders columns.
    */
  private[graft] def syntheticUrlExpr(custkey: Column, orderkey: Column): Column =
    concat(
      when(pmod(orderkey, lit(3)) === 0, "HTTP")
        .when(pmod(orderkey, lit(3)) === 1, "https")
        .otherwise("HtTp"),
      lit("://WWW.Shop"), pmod(custkey, lit(50)).cast("string"),
      when(pmod(custkey, lit(4)) === 0, ".example.COM")
        .when(pmod(custkey, lit(4)) === 1, ".shop.CO.UK")
        .when(pmod(custkey, lit(4)) === 2, ".blog.GitHub.IO")
        .otherwise(".example.ORG"),
      when(pmod(orderkey, lit(4)) === 0, ":80")
        .when(pmod(orderkey, lit(4)) === 1, ":443")
        .when(pmod(orderkey, lit(4)) === 2, ":8080")
        .otherwise(""),
      lit("/items%2fview/"), orderkey.cast("string"),
      when(pmod(orderkey, lit(2)) === 0, "?q=a%3db").otherwise(""),
      when(pmod(orderkey, lit(5)) === 0, "#Sec%201").otherwise(""))

  private[graft] def syntheticUrls(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    o.select(col("o_orderkey"),
      syntheticUrlExpr(col("o_custkey"), col("o_orderkey")).as("url"))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    SkylineOp.skyline(
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        // the select fixes the result's columns; the scan reads only
        // these either way (see q_skyline_lineitem).
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_shipdate"),
      lineitemSpec)

  /** One entry per implemented operator from SURVEY.md §2. */
  /** One entry per implemented operator from SURVEY.md §2 — merged
    * from the per-domain registries under graft/registry/ (the maps
    * are disjoint by construction; a duplicate name would silently
    * drop one entry, so mergedDisjoint asserts). */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    mergedDisjoint(Seq(
      registry.RegDedup.queries,
      registry.RegGraph.queries,
      registry.RegMl.queries,
      registry.RegMultimodal.queries,
      registry.RegRel.queries,
      registry.RegSim.queries,
      registry.RegSketches.queries,
      registry.RegSkyline.queries,
      registry.RegStats.queries,
      registry.RegStreaming.queries,
      registry.RegText.queries,
      registry.RegTimeseries.queries,
      registry.RegWarehouse.queries))

  /** DuckDB-equivalent SQL per query, same merge rule. */
  lazy val oracleSql: Map[String, String] =
    mergedDisjoint(Seq(
      registry.RegDedup.oracles,
      registry.RegGraph.oracles,
      registry.RegMl.oracles,
      registry.RegMultimodal.oracles,
      registry.RegRel.oracles,
      registry.RegSim.oracles,
      registry.RegSketches.oracles,
      registry.RegSkyline.oracles,
      registry.RegStats.oracles,
      registry.RegStreaming.oracles,
      registry.RegText.oracles,
      registry.RegTimeseries.oracles,
      registry.RegWarehouse.oracles))

  private[graft] def mergedDisjoint[V](ms: Seq[Map[String, V]]): Map[String, V] = {
    val merged = ms.reduce(_ ++ _)
    val n = ms.map(_.size).sum
    require(merged.size == n,
      s"duplicate query name across registries: ${n - merged.size} collision(s)")
    merged
  }

  /** Shared oracle for q_ann_ivf and q_ann_ivf_index: both compute the
    * identical answer (same md5-ordered centroid pick, same squared-L2
    * assignment with ties to the smaller rank, same 4-list probe,
    * exact double cosine) — only the at-rest layout differs.
    */
  /** Exact cosine top-10 for query vec 0 — shared by q_knn and the
    * q_ann_recall ground-truth side.
    */
  private[graft] val KnnOracle: String =
    """WITH ev AS (
      |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM ev GROUP BY 1),
      |q AS (SELECT x, i FROM ev WHERE vec_id = 0),
      |qn AS (SELECT n FROM norms WHERE vec_id = 0),
      |dots AS (SELECT e.vec_id, sum(e.x * q.x) AS d FROM ev e JOIN q ON e.i = q.i GROUP BY 1)
      |SELECT emb.vec_id, emb.label,
      |  round(CASE WHEN norms.n * (SELECT n FROM qn) > 0
      |    THEN dots.d / (norms.n * (SELECT n FROM qn)) ELSE 0.0 END, 6) AS score
      |FROM dots
      |JOIN norms ON dots.vec_id = norms.vec_id
      |JOIN embeddings emb ON dots.vec_id = emb.vec_id
      |ORDER BY score DESC, emb.vec_id ASC LIMIT 10""".stripMargin

  /** Marker-count lang-id replay - shared by q_lang_id and the
    * q_lang_confusion matrix.
    */
  private[graft] val LangIdOracle: String =
    """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','nicht','ist'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','is','to'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','que','y','es'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','la','les','et','est','que'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('de5','shi4','le5','bu4','wo3','ni3'))) AS s_zh
        |  FROM t)
        |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
        |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |       ELSE 'zh' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin

  /** IVF serving oracle, parametrized on the centroid-sample source
    * (`centWhere` filters the rows eligible as centroid seeds —
    * `TRUE` for the full-corpus indexes, the base predicate for the
    * incremental one; assignment/probe/scoring always run over the
    * full corpus). */
  private[graft] def annIvfOracle(centWhere: String): String =
    s"""WITH cent AS (
      |  SELECT cv, row_number() OVER (ORDER BY h) - 1 AS rank FROM (
      |    SELECT md5('ivf:' || vec_id) AS h, embedding AS cv
      |    FROM embeddings WHERE ($centWhere) ORDER BY h LIMIT 16)),
      |cev AS (SELECT rank, CAST(unnest(cv) AS DOUBLE) AS cx,
      |        generate_subscripts(cv, 1) AS j FROM cent),
      |ev AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |       generate_subscripts(embedding, 1) AS j FROM embeddings),
      |dists AS (
      |  SELECT e.vec_id, c.rank, sum((e.x - c.cx) * (e.x - c.cx)) AS d
      |  FROM ev e JOIN cev c ON e.j = c.j GROUP BY 1, 2),
      |assign AS (
      |  SELECT vec_id, rank FROM (
      |    SELECT vec_id, rank,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, rank) AS rn
      |    FROM dists) WHERE rn = 1),
      |qprobe AS (SELECT rank FROM dists WHERE vec_id = 0 ORDER BY d, rank LIMIT 4),
      |cands AS (SELECT a.vec_id FROM assign a JOIN qprobe p ON a.rank = p.rank),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM ev GROUP BY 1),
      |q AS (SELECT x, j FROM ev WHERE vec_id = 0),
      |qn AS (SELECT n FROM norms WHERE vec_id = 0),
      |dots AS (
      |  SELECT e.vec_id, sum(e.x * q.x) AS dt FROM ev e
      |  JOIN q ON e.j = q.j
      |  WHERE e.vec_id IN (SELECT vec_id FROM cands) GROUP BY 1)
      |SELECT emb.vec_id, emb.label,
      |  round(CASE WHEN norms.n * (SELECT n FROM qn) > 0
      |    THEN dots.dt / (norms.n * (SELECT n FROM qn)) ELSE 0.0 END, 6) AS score
      |FROM dots
      |JOIN norms ON dots.vec_id = norms.vec_id
      |JOIN embeddings emb ON dots.vec_id = emb.vec_id
      |ORDER BY score DESC, emb.vec_id ASC LIMIT 10""".stripMargin

  private[graft] val AnnIvfOracle: String = annIvfOracle("TRUE")

  /** Full integer replay of the polyphase windowed-sinc convolution
    * for an L/M conversion of the planted ramp fixture: the Q15 tap
    * table rides in as literals (generated from the SAME
    * [[graft.multimodal.Multimodal.sincTaps]] call the operator uses —
    * shared model constants, like the q_knn query vector), each output
    * sample j gathers the taps its polyphase branch makes live
    * ((j·M − k) ≡ 0 mod L, zero-padded edges), and the one rounding
    * floor is exact in double range (|acc| < 2^40). */
  private[graft] def sincResampleOracle(l: Int, m: Int): String = {
    val taps = Multimodal.sincTaps(l, m)
    val h = (taps.length - 1) / 2
    val vals = taps.zipWithIndex
      .map { case (c, i) => s"(${i - h},$c)" }.mkString(",")
    s"""WITH o AS (
      |  SELECT doc_id, ((doc_id % 5) + 1) * 100 AS n,
      |    (((doc_id % 5) + 1) * 100 * $l) // $m AS dst
      |  FROM documents),
      |taps(k, c) AS (VALUES $vals),
      |jf AS (
      |  SELECT doc_id, n, dst,
      |    unnest(generate_series(0, CAST(dst - 1 AS INT))) AS j
      |  FROM o),
      |contrib AS (
      |  SELECT f.doc_id, f.n, f.dst, f.j, t.c,
      |    (f.j * $m - t.k) // $l AS i
      |  FROM jf f CROSS JOIN taps t
      |  WHERE (f.j * $m - t.k) >= 0
      |    AND (f.j * $m - t.k) % $l = 0
      |    AND (f.j * $m - t.k) // $l < f.n),
      |acc AS (
      |  SELECT doc_id, n, dst, j,
      |    sum(c * (((i * 37 + doc_id) % 401 - 200) * 80)) AS a0,
      |    sum(c * (((i * 53 + 2 * doc_id) % 401 - 200) * 70)) AS a1
      |  FROM contrib GROUP BY 1, 2, 3, 4),
      |y AS (
      |  SELECT doc_id, n, dst, j,
      |    GREATEST(-32768, LEAST(32767,
      |      CAST(floor((a0 + 16384) / 32768.0) AS BIGINT))) AS y0,
      |    GREATEST(-32768, LEAST(32767,
      |      CAST(floor((a1 + 16384) / 32768.0) AS BIGINT))) AS y1
      |  FROM acc)
      |SELECT doc_id, CAST(n AS BIGINT) AS src_frames,
      |  CAST(dst AS BIGINT) AS dst_frames,
      |  CAST(sum(y0 * y0) AS BIGINT) AS sum_sq0,
      |  CAST(sum(y1 * y1) AS BIGINT) AS sum_sq1
      |FROM y GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin
  }

  /** Unrolled Lloyd-iteration CTE chain replaying [[graft.sim.KMeans]]
    * exactly: md5-ordered init (rank = md5 position), per-iteration
    * squared-L2 assignment with ties to the smaller rank, per-cluster
    * per-dim means rounded to 6 (the cross-engine centroid contract),
    * empty clusters dropping out by construction (no rows in c{i}e).
    * `iters` refinement rounds = `iters + 1` assignment CTEs; the
    * caller appends a final SELECT over `a{iters+1}` (assignments) and
    * `ev`. Starts with WITH RECURSIVE so callers may chain a recursive
    * closure CTE after it.
    */
  private[graft] def kmeansCtes(k: Int, iters: Int, salt: String): String = {
    val sb = new StringBuilder(
      s"""WITH RECURSIVE ev AS (
         |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         |    generate_subscripts(embedding, 1) AS j
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |c0e AS (
         |  SELECT rank, CAST(unnest(cv) AS DOUBLE) AS cx,
         |    generate_subscripts(cv, 1) AS j
         |  FROM (SELECT row_number() OVER (ORDER BY h) - 1 AS rank, cv FROM (
         |    SELECT md5('$salt:' || vec_id) AS h, embedding AS cv
         |    FROM embeddings WHERE embedding IS NOT NULL
         |    ORDER BY h LIMIT $k))),
         |""".stripMargin)
    for (i <- 1 to iters + 1) {
      sb ++= s"""d$i AS (
                |  SELECT e.vec_id, c.rank, sum((e.x - c.cx) * (e.x - c.cx)) AS d
                |  FROM ev e JOIN c${i - 1}e c ON e.j = c.j GROUP BY 1, 2),
                |a$i AS (
                |  SELECT vec_id, rank FROM (
                |    SELECT vec_id, rank,
                |      row_number() OVER (PARTITION BY vec_id ORDER BY d, rank) AS rn
                |    FROM d$i) WHERE rn = 1),
                |""".stripMargin
      if (i <= iters)
        sb ++= s"""c${i}e AS (
                  |  SELECT a.rank, e.j, round(avg(e.x), 6) AS cx
                  |  FROM a$i a JOIN ev e ON a.vec_id = e.vec_id GROUP BY 1, 2),
                  |""".stripMargin
    }
    sb.toString
  }

  /** Unrolled power-iteration PCA replay (graft.sim.Pca): inputs
    * rounded to 6-decimal DECIMALs once, mean from exact-sum-cast-
    * double (the Profile contract), per-iteration row dots and
    * dimension sums as EXACT DECIMAL(38,12) aggregations (order-
    * independent), w rounded 6 before the norm so the sum of squares
    * is exact too; only sqrt and the final division run in doubles.
    */
  private[graft] def pcaCtes(iters: Int): String = {
    val sb = new StringBuilder(
      """WITH ev AS (
        |  SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS j,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE), 6) AS DECIMAL(18,6)) AS x
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |mu AS (
        |  SELECT j, CAST(round(CAST(sum(x) AS DOUBLE) / count(*), 6) AS DECIMAL(18,6)) AS mu
        |  FROM ev GROUP BY 1),
        |cen AS (
        |  SELECT id, ev.j, CAST(ev.x - mu.mu AS DECIMAL(18,6)) AS c
        |  FROM ev JOIN mu ON ev.j = mu.j),
        |v0 AS (
        |  SELECT j, CAST(round(1.0 / sqrt((SELECT CAST(count(DISTINCT j) AS DOUBLE) FROM ev)), 6) AS DECIMAL(18,6)) AS vj
        |  FROM (SELECT DISTINCT j FROM ev)),
        |""".stripMargin)
    for (k <- 1 to iters) {
      sb ++= s"""d$k AS (
                |  SELECT id, CAST(round(sum(CAST(c * vj AS DECIMAL(38,12))), 6) AS DECIMAL(18,6)) AS dt
                |  FROM cen JOIN v${k - 1} USING (j) GROUP BY id),
                |w$k AS (
                |  SELECT cen.j, CAST(round(sum(CAST(c * dt AS DECIMAL(38,12))), 6) AS DECIMAL(18,6)) AS w6
                |  FROM cen JOIN d$k USING (id) GROUP BY cen.j),
                |n$k AS (
                |  SELECT sqrt(CAST(sum(CAST(w6 * w6 AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM w$k),
                |v$k AS (
                |  SELECT j, CAST(round(CAST(w6 AS DOUBLE) / (SELECT nrm FROM n$k), 6) AS DECIMAL(18,6)) AS vj
                |  FROM w$k),
                |""".stripMargin
    }
    sb.setLength(sb.length - 2)
    sb ++= s"\nSELECT j, CAST(vj AS DOUBLE) AS loading FROM v$iters ORDER BY j"
    sb.toString
  }

  /** Product-quantization replay: per subspace `s`, the same unrolled
    * Lloyd chain as [[kmeansCtes]] over the slice
    * `embedding[s·subDim+1 : (s+1)·subDim]` with salt `"pq{s}"`
    * (suffix `_{s}` on every CTE), ending in the encode assignment
    * `a{iters+1}_{s}` and the trained centroids `c{iters}e_{s}`. The
    * caller appends the ADC tail.
    */
  private[graft] def pqCtes(m: Int, subDim: Int, k: Int, iters: Int, salt: String): String = {
    val sb = new StringBuilder("WITH ")
    for (s <- 0 until m) {
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      val sl = s"embedding[$lo:$hi]"
      sb ++= s"""ev_$s AS (
                |  SELECT vec_id, CAST(unnest($sl) AS DOUBLE) AS x,
                |    generate_subscripts($sl, 1) AS j
                |  FROM embeddings WHERE embedding IS NOT NULL),
                |c0e_$s AS (
                |  SELECT rank, CAST(unnest(cv) AS DOUBLE) AS cx,
                |    generate_subscripts(cv, 1) AS j
                |  FROM (SELECT row_number() OVER (ORDER BY h) - 1 AS rank, cv FROM (
                |    SELECT md5('$salt$s:' || vec_id) AS h, $sl AS cv
                |    FROM embeddings WHERE embedding IS NOT NULL
                |    ORDER BY h LIMIT $k))),
                |""".stripMargin
      for (i <- 1 to iters + 1) {
        sb ++= s"""d${i}_$s AS (
                  |  SELECT e.vec_id, c.rank, sum((e.x - c.cx) * (e.x - c.cx)) AS d
                  |  FROM ev_$s e JOIN c${i - 1}e_$s c ON e.j = c.j GROUP BY 1, 2),
                  |a${i}_$s AS (
                  |  SELECT vec_id, rank FROM (
                  |    SELECT vec_id, rank,
                  |      row_number() OVER (PARTITION BY vec_id ORDER BY d, rank) AS rn
                  |    FROM d${i}_$s) WHERE rn = 1),
                  |""".stripMargin
        if (i <= iters)
          sb ++= s"""c${i}e_$s AS (
                    |  SELECT a.rank, e.j, round(avg(e.x), 6) AS cx
                    |  FROM a${i}_$s a JOIN ev_$s e ON a.vec_id = e.vec_id GROUP BY 1, 2),
                    |""".stripMargin
      }
    }
    sb.toString
  }

  /** Residual IVF-PQ replay ([[graft.sim.IvfPq.topKResidual]]): the
    * hash-random coarse quantizer + assignment (as q_ann_ivfpq), the
    * residual LONG-FORM table rv = v − centroid(list(v)), per-subspace
    * Lloyd chains over residual SLICES (the [[pqCtes]] chain rebased
    * onto rv — slicing in long form is a BETWEEN on the subscript),
    * and the per-probed-list ADC tail (the query's residual differs
    * per list, so qd carries the list rank too).
    */
  private[graft] def ivfPqResidualSql(
      nLists: Int, nProbe: Int, m: Int, subDim: Int, k: Int, iters: Int,
      salt: String, topK: Int): String = {
    val sb = new StringBuilder(
      s"""WITH cent AS (
         |  SELECT cv, row_number() OVER (ORDER BY h) - 1 AS rank FROM (
         |    SELECT md5('ivf:' || vec_id) AS h, embedding AS cv
         |    FROM embeddings ORDER BY h LIMIT $nLists)),
         |cev AS (SELECT rank, CAST(unnest(cv) AS DOUBLE) AS cx,
         |        generate_subscripts(cv, 1) AS j FROM cent),
         |ev AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         |       generate_subscripts(embedding, 1) AS j FROM embeddings),
         |dists AS (
         |  SELECT e.vec_id, c.rank, sum((e.x - c.cx) * (e.x - c.cx)) AS d
         |  FROM ev e JOIN cev c ON e.j = c.j GROUP BY 1, 2),
         |assign AS (
         |  SELECT vec_id, rank FROM (
         |    SELECT vec_id, rank,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, rank) AS rn
         |    FROM dists) WHERE rn = 1),
         |qprobe AS (
         |  SELECT rank FROM (
         |    SELECT rank, row_number() OVER (ORDER BY d, rank) AS rn
         |    FROM dists WHERE vec_id = 0) WHERE rn <= $nProbe),
         |rv AS (
         |  SELECT e.vec_id, e.x - c.cx AS x, e.j
         |  FROM ev e JOIN assign a ON e.vec_id = a.vec_id
         |  JOIN cev c ON c.rank = a.rank AND c.j = e.j),
         |""".stripMargin)
    for (s <- 0 until m) {
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      sb ++= s"""ev_$s AS (SELECT vec_id, x, j - ${s * subDim} AS j FROM rv
                |         WHERE j BETWEEN $lo AND $hi),
                |seed_$s AS (
                |  SELECT vec_id, row_number() OVER (ORDER BY h) - 1 AS rank FROM (
                |    SELECT md5('$salt$s:' || vec_id) AS h, vec_id FROM embeddings
                |    WHERE embedding IS NOT NULL ORDER BY h LIMIT $k)),
                |c0e_$s AS (
                |  SELECT sd.rank, e.j, e.x AS cx
                |  FROM seed_$s sd JOIN ev_$s e ON e.vec_id = sd.vec_id),
                |""".stripMargin
      for (i <- 1 to iters + 1) {
        sb ++= s"""d${i}_$s AS (
                  |  SELECT e.vec_id, c.rank, sum((e.x - c.cx) * (e.x - c.cx)) AS d
                  |  FROM ev_$s e JOIN c${i - 1}e_$s c ON e.j = c.j GROUP BY 1, 2),
                  |a${i}_$s AS (
                  |  SELECT vec_id, rank FROM (
                  |    SELECT vec_id, rank,
                  |      row_number() OVER (PARTITION BY vec_id ORDER BY d, rank) AS rn
                  |    FROM d${i}_$s) WHERE rn = 1),
                  |""".stripMargin
        if (i <= iters)
          sb ++= s"""c${i}e_$s AS (
                    |  SELECT a.rank, e.j, round(avg(e.x), 6) AS cx
                    |  FROM a${i}_$s a JOIN ev_$s e ON a.vec_id = e.vec_id GROUP BY 1, 2),
                    |""".stripMargin
      }
      sb ++= s"""qd_$s AS (
                |  SELECT r.lrank, c.rank, sum((r.x - c.cx) * (r.x - c.cx)) AS d
                |  FROM (SELECT c2.rank AS lrank, c2.j - ${s * subDim} AS j, q.x - c2.cx AS x
                |        FROM cev c2 JOIN ev q ON q.j = c2.j AND q.vec_id = 0
                |        WHERE c2.rank IN (SELECT rank FROM qprobe)
                |          AND c2.j BETWEEN $lo AND $hi) r
                |  JOIN c${iters}e_$s c ON r.j = c.j GROUP BY 1, 2),
                |part_$s AS (
                |  SELECT a.vec_id, q.d
                |  FROM a${iters + 1}_$s a
                |  JOIN assign av ON av.vec_id = a.vec_id
                |  JOIN qd_$s q ON q.lrank = av.rank AND q.rank = a.rank),
                |""".stripMargin
    }
    sb ++= s"""adc AS (
              |  SELECT vec_id, round(sum(d), 6) AS adc FROM (
              |    ${(0 until m).map(s => s"SELECT * FROM part_$s").mkString("\n    UNION ALL ")})
              |  GROUP BY vec_id)
              |SELECT emb.vec_id, emb.label, adc.adc
              |FROM adc JOIN embeddings emb ON adc.vec_id = emb.vec_id
              |ORDER BY adc.adc ASC, emb.vec_id ASC LIMIT $topK""".stripMargin
    sb.toString
  }

  /** Raw-vector IVF-PQ replay, shared by q_ann_ivfpq (in-memory) and
    * q_ann_ivfpq_index (at-rest layout — identical codes, identical
    * result): the hash-random coarse quantizer CTEs select candidates;
    * per-subspace Lloyd chains + the ADC tail score them.
    */
  private[graft] lazy val ivfPqRawOracle: String =
    """WITH cent AS (
      |  SELECT cv, row_number() OVER (ORDER BY h) - 1 AS rank FROM (
      |    SELECT md5('ivf:' || vec_id) AS h, embedding AS cv
      |    FROM embeddings ORDER BY h LIMIT 16)),
      |cev AS (SELECT rank, CAST(unnest(cv) AS DOUBLE) AS cx,
      |        generate_subscripts(cv, 1) AS j FROM cent),
      |ev AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |       generate_subscripts(embedding, 1) AS j FROM embeddings),
      |dists AS (
      |  SELECT e.vec_id, c.rank, sum((e.x - c.cx) * (e.x - c.cx)) AS d
      |  FROM ev e JOIN cev c ON e.j = c.j GROUP BY 1, 2),
      |assign AS (
      |  SELECT vec_id, rank FROM (
      |    SELECT vec_id, rank,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, rank) AS rn
      |    FROM dists) WHERE rn = 1),
      |qprobe AS (
      |  SELECT rank FROM (
      |    SELECT rank, row_number() OVER (ORDER BY d, rank) AS rn
      |    FROM dists WHERE vec_id = 0) WHERE rn <= 4),
      |cands AS (SELECT vec_id FROM assign WHERE rank IN (SELECT rank FROM qprobe)),
      |""".stripMargin +
      pqCtes(m = 4, subDim = 16, k = 8, iters = 1, salt = "pq").stripPrefix("WITH ") +
      (0 until 4).map { s =>
        s"""qd_$s AS (
           |  SELECT c.rank, sum((e.x - c.cx) * (e.x - c.cx)) AS d
           |  FROM ev_$s e JOIN c1e_$s c ON e.j = c.j WHERE e.vec_id = 0 GROUP BY 1),
           |part_$s AS (
           |  SELECT a.vec_id, q.d FROM a2_$s a JOIN qd_$s q ON a.rank = q.rank
           |  WHERE a.vec_id IN (SELECT vec_id FROM cands)),
           |""".stripMargin
      }.mkString +
      """adc AS (
        |  SELECT vec_id, round(sum(d), 6) AS adc FROM (
        |    SELECT * FROM part_0 UNION ALL SELECT * FROM part_1
        |    UNION ALL SELECT * FROM part_2 UNION ALL SELECT * FROM part_3)
        |  GROUP BY vec_id)
        |SELECT emb.vec_id, emb.label, adc.adc
        |FROM adc JOIN embeddings emb ON adc.vec_id = emb.vec_id
        |ORDER BY adc.adc ASC, emb.vec_id ASC LIMIT 10""".stripMargin

  /** Unrolled PageRank replay: per iteration, a dangling-mass scalar
    * (d<k>), in-contributions (c<k>), and the next rank vector (r<k>)
    * — the same damped update the Spark side runs, with ranks rounded
    * to 6 each round so both engines feed identical doubles forward.
    * `(1 - 0.85)`, not the literal 0.15: the implementation computes
    * 1 − damping and the two differ by one ulp.
    */
  private[graft] def pageRankOracle(
      iters: Int,
      edgesCte: String =
        """e AS (
          |  SELECT DISTINCT o_custkey AS src, 1000000 + l_suppkey AS dst
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""".stripMargin)
      : String = {
    // Placeholder substitution AFTER stripMargin: an edges CTE may
    // contain lines starting with the SQL '||' concat operator, which
    // stripMargin would corrupt if it ran over interpolated content.
    val sb = new StringBuilder(
      """WITH __EDGES__,
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT id, round(1.0 / (SELECT n FROM nn), 6) AS rank FROM nodes),
        |""".stripMargin.replace("__EDGES__", edgesCte))
    for (k <- 1 to iters) {
      val prev = s"r${k - 1}"
      sb ++= s"""d$k AS (SELECT coalesce(sum(rank), 0) AS dm FROM $prev
                |  WHERE id NOT IN (SELECT src FROM deg)),
                |c$k AS (SELECT e.dst AS id, sum(r.rank / d.deg) AS cin
                |  FROM e JOIN $prev r ON e.src = r.id
                |  JOIN deg d ON e.src = d.src GROUP BY 1),
                |r$k AS (SELECT nd.id,
                |  round(((1 - 0.85) / (SELECT n FROM nn)
                |         + 0.85 * ((SELECT dm FROM d$k) / (SELECT n FROM nn)))
                |        + 0.85 * coalesce(c$k.cin, 0), 6) AS rank
                |  FROM nodes nd LEFT JOIN c$k ON nd.id = c$k.id),
                |""".stripMargin
    }
    sb.setLength(sb.length - 2) // drop trailing ",\n"
    sb ++= s"\nSELECT id, rank FROM r$iters ORDER BY id"
    sb.toString
  }

  /** The q_als factor pipeline as a WITH-body (ratings → init → two
    * unrolled alternations → uf2/if2), shared by q_als and
    * q_als_recs so the recurrence replay can't drift between them.
    * Each half-step's CTE pair comes from one template; every double
    * expression shape mirrors ml/Als.halfStep.
    */
  private[graft] def alsOracleCtes: String = {
    def half(mName: String, outName: String, solveKey: String,
        otherKey: String, prevF: String): String = {
      val a11 = "(CAST(s11 AS DOUBLE) / 1e12 + 0.1)"
      val a12 = "(CAST(s12 AS DOUBLE) / 1e12)"
      val a22 = "(CAST(s22 AS DOUBLE) / 1e12 + 0.1)"
      val b1 = "(CAST(b1 AS DOUBLE) / 1e6)"
      val b2 = "(CAST(b2 AS DOUBLE) / 1e6)"
      val det = s"($a11 * $a22 - $a12 * $a12)"
      val w1 = s"(($b1 * $a22 - $b2 * $a12) / $det)"
      val w2 = s"(($a11 * $b2 - $a12 * $b1) / $det)"
      s"""$mName AS (
         |  SELECT r.$solveKey AS id,
         |    sum(CAST(f.f1 * f.f1 AS HUGEINT)) AS s11,
         |    sum(CAST(f.f1 * f.f2 AS HUGEINT)) AS s12,
         |    sum(CAST(f.f2 * f.f2 AS HUGEINT)) AS s22,
         |    sum(CAST(r.r * f.f1 AS HUGEINT)) AS b1,
         |    sum(CAST(r.r * f.f2 AS HUGEINT)) AS b2
         |  FROM ratings r JOIN $prevF f ON r.$otherKey = f.id GROUP BY 1),
         |$outName AS (
         |  SELECT id, CAST(round($w1 * 1e6, 0) AS BIGINT) AS f1,
         |    CAST(round($w2 * 1e6, 0) AS BIGINT) AS f2
         |  FROM $mName)""".stripMargin
    }
    s"""ratings AS (
       |  SELECT l_suppkey AS u, l_partkey AS i,
       |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS r
       |  FROM lineitem GROUP BY 1, 2),
       |if0 AS (
       |  SELECT DISTINCT i AS id,
       |    1000000 + (i % 7) * 100000 AS f1,
       |    1000000 - (i % 5) * 50000 AS f2
       |  FROM ratings),
       |${half("m1", "uf1", "u", "i", "if0")},
       |${half("m2", "if1", "i", "u", "uf1")},
       |${half("m3", "uf2", "u", "i", "if1")},
       |${half("m4", "if2", "i", "u", "uf2")}""".stripMargin
  }

  /** Personalized-PageRank replay: the [[pageRankOracle]] scaffold
    * with the uniform teleport replaced by p(v) = 1/|S| on `seedLike`
    * matches (dangling mass re-enters through p — the strongly-
    * preferential form PageRank.personalized computes). `(1 - 0.85)`
    * stays an ARITHMETIC expression so both engines produce the same
    * 0.15000000000000002 double. */
  private[graft] def pprOracle(iters: Int, seedLike: String, edgesCte: String)
      : String = {
    val sb = new StringBuilder(
      """WITH __EDGES__,
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |sc AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM nodes
        |       WHERE id LIKE '__SEED__'),
        |p AS (SELECT id, CASE WHEN id LIKE '__SEED__'
        |        THEN 1.0 / (SELECT m FROM sc) ELSE 0.0 END AS p FROM nodes),
        |r0 AS (SELECT id, round(p, 6) AS rank FROM p),
        |""".stripMargin
        .replace("__EDGES__", edgesCte).replace("__SEED__", seedLike))
    for (k <- 1 to iters) {
      val prev = s"r${k - 1}"
      sb ++= s"""d$k AS (SELECT coalesce(sum(rank), 0) AS dm FROM $prev
                |  WHERE id NOT IN (SELECT src FROM deg)),
                |c$k AS (SELECT e.dst AS id, sum(r.rank / d.deg) AS cin
                |  FROM e JOIN $prev r ON e.src = r.id
                |  JOIN deg d ON e.src = d.src GROUP BY 1),
                |r$k AS (SELECT p.id,
                |  round(((1 - 0.85) * p.p
                |         + 0.85 * ((SELECT dm FROM d$k) * p.p))
                |        + 0.85 * coalesce(c$k.cin, 0), 6) AS rank
                |  FROM p LEFT JOIN c$k ON p.id = c$k.id),
                |""".stripMargin
    }
    sb.setLength(sb.length - 2)
    sb ++= s"\nSELECT id, rank FROM r$iters ORDER BY id"
    sb.toString
  }

  /** Unrolled full-batch GD replay: per iteration, three gradient-sum
    * CTEs over the feature view with the previous weights inlined as
    * scalar subqueries, then the rounded weight updates — identical
    * operation order to LinearGd.fit (pred left-assoc, (2·S)/n, round
    * 6 on gradient and weight).
    */
  private[graft] def linGdOracle(iters: Int, lr: Double): String = {
    val sb = new StringBuilder(
      """WITH d AS (
        |  SELECT l_discount AS x1, l_tax AS x2, l_quantity AS y FROM lineitem),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
        |w0_0 AS (SELECT 0.0 AS v),
        |w0_1 AS (SELECT 0.0 AS v),
        |w0_2 AS (SELECT 0.0 AS v),
        |""".stripMargin)
    for (k <- 1 to iters) {
      val p = k - 1
      val pred = s"(((SELECT v FROM w${p}_0) + (SELECT v FROM w${p}_1) * x1)" +
        s" + (SELECT v FROM w${p}_2) * x2)"
      def upd(j: Int, mult: String): String =
        s"""s${k}_$j AS (SELECT sum(($pred - y)$mult) AS s FROM d),
           |w${k}_$j AS (SELECT round((SELECT v FROM w${p}_$j)
           |  - $lr * round(2.0 * (SELECT s FROM s${k}_$j) / (SELECT n FROM nn), 6), 6) AS v),
           |""".stripMargin
      sb ++= upd(0, "")
      sb ++= upd(1, " * x1")
      sb ++= upd(2, " * x2")
    }
    sb.setLength(sb.length - 2) // trailing ",\n"
    sb ++= s"""
              |SELECT (SELECT v FROM w${iters}_0) AS w0,
              |  (SELECT v FROM w${iters}_1) AS w1,
              |  (SELECT v FROM w${iters}_2) AS w2""".stripMargin
    sb.toString
  }

  /** Unrolled quantile-GD replay (the linGdOracle CTE chain with the
    * pinball indicator and logRegOracle's exact decimal sums): per
    * iteration sum((1{y<ŷ} − τ)·x_j) as DECIMAL(18,6), rounded update
    * with integer lr, and the final coverage audit P(y ≤ ŷ).
    */
  private[graft] def quantGdOracle(tau: Double, lr: Double, iters: Int): String = {
    val sb = new StringBuilder(
      """WITH d AS (
        |  SELECT l_discount AS x1, l_tax AS x2, l_quantity AS y FROM lineitem),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
        |w0_0 AS (SELECT 0.0 AS v),
        |w0_1 AS (SELECT 0.0 AS v),
        |w0_2 AS (SELECT 0.0 AS v),
        |""".stripMargin)
    def predOf(p: Int): String =
      s"(((SELECT v FROM w${p}_0) + (SELECT v FROM w${p}_1) * x1)" +
        s" + (SELECT v FROM w${p}_2) * x2)"
    for (k <- 1 to iters) {
      val p = k - 1
      val ind = s"CASE WHEN y < ${predOf(p)} THEN 1.0 ELSE 0.0 END"
      def upd(j: Int, mult: String): String =
        s"""s${k}_$j AS MATERIALIZED (SELECT sum(CAST($ind - $tau AS DECIMAL(18,6))$mult) AS s FROM d),
           |w${k}_$j AS MATERIALIZED (SELECT round((SELECT v FROM w${p}_$j)
           |  - $lr * round(CAST((SELECT s FROM s${k}_$j) AS DOUBLE) / (SELECT n FROM nn), 6), 6) AS v),
           |""".stripMargin
      sb ++= upd(0, "")
      sb ++= upd(1, " * CAST(x1 AS DECIMAL(18,6))")
      sb ++= upd(2, " * CAST(x2 AS DECIMAL(18,6))")
    }
    sb.setLength(sb.length - 2) // trailing ",\n"
    sb ++= s"""
      |SELECT (SELECT v FROM w${iters}_0) AS w0,
      |  (SELECT v FROM w${iters}_1) AS w1,
      |  (SELECT v FROM w${iters}_2) AS w2,
      |  (SELECT round(avg(CASE WHEN y <= ${predOf(iters)}
      |     THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6)
      |   FROM d) AS coverage""".stripMargin
    sb.toString
  }

  /** MSE/R² of the replayed q_lingd weights — the weight CTEs plus
    * one evaluation aggregate, ss_tot staged separately so the
    * operation order matches the Scala driver fold exactly.
    */
  private[graft] def linGdEvalOracle(iters: Int, lr: Double): String = {
    val weights = linGdOracle(iters, lr)
    val body = weights.substring(0, weights.lastIndexOf("\nSELECT"))
    val p = s"(((SELECT v FROM w${iters}_0) + (SELECT v FROM w${iters}_1) * x1)" +
      s" + (SELECT v FROM w${iters}_2) * x2)"
    body + s""",
       |ev AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |    sum(($p - y) * ($p - y)) AS ss_res,
       |    sum(y) AS sy, sum(y * y) AS syy
       |  FROM d),
       |tot AS (SELECT n, ss_res, syy - sy * sy / n AS ss_tot FROM ev)
       |SELECT round(ss_res / n, 6) AS mse,
       |  round(1.0 - ss_res / ss_tot, 6) AS r2 FROM tot""".stripMargin
  }

  /** Shared feature view of the logistic-regression queries: doc
    * length and whitespace-token count on comparable scales, label =
    * (lang == 'en'). Exact-double features (integer / power-of-ten),
    * identical in any engine.
    */
  private[graft] def logRegFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      (col("n_chars").cast("double") / 1000.0).as("x1"),
      (TextFunctions.tokenCount(col("text")).cast("double") / 100.0).as("x2"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))

  /** Unrolled logistic-GD replay (the linGdOracle pattern with the
    * sigmoid nonlinearity): per iteration three gradient-sum CTEs with
    * σ(z) rounded to 6 per row — the same per-row round the Scala side
    * applies, so cross-engine exp() ulp differences die before the
    * sums — accumulated as EXACT decimal(18,6) products
    * (order-independent, identical in any engine; a double sum was
    * observed flipping a 0.5e-6 gradient boundary at sf0.01), then the
    * rounded weight updates (g = S/n, no factor 2). `scoring = true`
    * appends the per-doc inference projection instead of the weights
    * row.
    */
  /** 7-subspace UNION ALL of NOT-EXISTS skylines over the q_skycube
    * slice — one strict-Pareto query per non-empty dim subset, labels
    * matching Skycube's spec-order "+" join.
    */
  private[graft] def skycubeOracle: String = {
    val dims = Seq(("l_extendedprice", true), ("l_discount", false),
      ("l_quantity", true)) // (col, isMin)
    val parts = (1 until 8).map { mask =>
      val sel = dims.zipWithIndex.collect {
        case (d, i) if (mask & (1 << i)) != 0 => d
      }
      val label = sel.map(_._1).mkString("+")
      val noWorse = sel.map { case (c, isMin) =>
        if (isMin) s"q.$c <= p.$c" else s"q.$c >= p.$c"
      }.mkString(" AND ")
      val strict = sel.map { case (c, isMin) =>
        if (isMin) s"q.$c < p.$c" else s"q.$c > p.$c"
      }.mkString(" OR ")
      s"""SELECT '$label' AS subspace,
         |  p.l_orderkey, p.l_extendedprice, p.l_discount, p.l_quantity
         |FROM li p WHERE NOT EXISTS (
         |  SELECT 1 FROM li q WHERE $noWorse AND ($strict))""".stripMargin
    }
    s"""WITH li AS (
       |  SELECT l_orderkey, l_extendedprice, l_discount, l_quantity
       |  FROM lineitem
       |  WHERE l_returnflag = 'R' AND l_linenumber = 1
       |    AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
       |    AND l_quantity IS NOT NULL)
       |${parts.mkString("\nUNION ALL\n")}
       |ORDER BY subspace, l_orderkey""".stripMargin
  }

  /** Lag-k autocorrelation replay: exact scaled deviations
    * (a = n·x − total), one lag window per k unioned, shared exact
    * denominator.
    */
  private[graft] def acfOracle(maxLag: Int): String = {
    val parts = (1 to maxLag).map { k =>
      s"""SELECT $k AS lag_k,
         |  (SELECT CAST(sum(a * al) AS BIGINT)
         |   FROM (SELECT a, lag(a, $k) OVER (ORDER BY d) AS al FROM av)) AS num""".stripMargin
    }
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS nd,
       |        CAST(sum(x) AS BIGINT) AS total FROM daily),
       |av AS (SELECT d, (SELECT nd FROM t) * x - (SELECT total FROM t) AS a
       |       FROM daily),
       |den AS (SELECT CAST(sum(a * a) AS BIGINT) AS den FROM av),
       |l AS (
       |${parts.mkString("\nUNION ALL\n")})
       |SELECT lag_k, num, (SELECT den FROM den) AS den,
       |  round(CAST(num AS DOUBLE) / (SELECT den FROM den), 6) AS acf
       |FROM l ORDER BY lag_k""".stripMargin
  }

  private[graft] def logRegOracle(iters: Int, lr: Double, scoring: Boolean,
      withLabel: Boolean = false, cvSalt: String = ""): String = {
    // cvSalt != "": 5-fold cross-validation replay — fold rides along
    // (the q_fold_assign hash), training sums see folds 1-4 only, the
    // scoring projection sees the held-out fold 0 only.
    val foldCol =
      if (cvSalt.isEmpty) ""
      else s""",
         |    ('0x' || substr(md5('$cvSalt|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 AS fold""".stripMargin
    val trainW = if (cvSalt.isEmpty) "" else " WHERE fold <> 0"
    val scoreW = if (cvSalt.isEmpty) "" else " WHERE fold = 0"
    val sb = new StringBuilder(
      s"""WITH d AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) / 1000 AS x1,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)) AS DOUBLE) / 100 AS x2,
        |    CAST(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y$foldCol
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
        |w0_0 AS (SELECT 0.0 AS v),
        |w0_1 AS (SELECT 0.0 AS v),
        |w0_2 AS (SELECT 0.0 AS v),
        |""".stripMargin)
    def zOf(p: Int): String =
      s"(((SELECT v FROM w${p}_0) + (SELECT v FROM w${p}_1) * x1)" +
        s" + (SELECT v FROM w${p}_2) * x2)"
    for (k <- 1 to iters) {
      val p = k - 1
      val sig = s"round(1.0 / (1.0 + exp(0.0 - ${zOf(p)})), 6)"
      def upd(j: Int, mult: String): String =
        s"""s${k}_$j AS MATERIALIZED (SELECT sum(CAST($sig - y AS DECIMAL(18,6))$mult) AS s FROM d$trainW),
           |w${k}_$j AS MATERIALIZED (SELECT round((SELECT v FROM w${p}_$j)
           |  - $lr * round(CAST((SELECT s FROM s${k}_$j) AS DOUBLE) / (SELECT n FROM nn), 6), 6) AS v),
           |""".stripMargin
      sb ++= upd(0, "")
      sb ++= upd(1, " * CAST(x1 AS DECIMAL(18,6))")
      sb ++= upd(2, " * CAST(x2 AS DECIMAL(18,6))")
    }
    sb.setLength(sb.length - 2) // trailing ",\n"
    if (!scoring)
      sb ++= s"""
        |SELECT (SELECT v FROM w${iters}_0) AS w0,
        |  (SELECT v FROM w${iters}_1) AS w1,
        |  (SELECT v FROM w${iters}_2) AS w2""".stripMargin
    else {
      val sig = s"round(1.0 / (1.0 + exp(0.0 - ${zOf(iters)})), 6)"
      val label = if (withLabel) ", y" else ""
      sb ++= s"""
        |SELECT doc_id, $sig AS probability,
        |  CASE WHEN $sig >= 0.5 THEN 1 ELSE 0 END AS predicted$label
        |FROM d$scoreW ORDER BY doc_id""".stripMargin
    }
    sb.toString
  }

  /** Unrolled Poisson-GD replay (the logRegOracle pattern with the
    * clamped exponential mean): μ̂ = round(e^min(z, 5), 6) per row,
    * exact decimal(18,6) gradient sums, rounded updates.
    */
  private[graft] def poissonOracle(iters: Int, lr: Double): String = {
    val sb = new StringBuilder(
      """WITH d AS (
        |  SELECT CASE WHEN dayofweek(day) IN (0, 6) THEN 1.0 ELSE 0.0 END AS x1,
        |    CAST(user_id % 5 AS DOUBLE) / 10 AS x2, CAST(cnt AS DOUBLE) AS y
        |  FROM (SELECT user_id, CAST(ts AS DATE) AS day,
        |          count(*) AS cnt FROM events GROUP BY 1, 2)),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
        |w0_0 AS (SELECT 0.0 AS v),
        |w0_1 AS (SELECT 0.0 AS v),
        |w0_2 AS (SELECT 0.0 AS v),
        |""".stripMargin)
    def zOf(p: Int): String =
      s"(((SELECT v FROM w${p}_0) + (SELECT v FROM w${p}_1) * x1)" +
        s" + (SELECT v FROM w${p}_2) * x2)"
    for (k <- 1 to iters) {
      val p = k - 1
      val mu = s"round(exp(least(${zOf(p)}, 5.0)), 6)"
      def upd(j: Int, mult: String): String =
        s"""s${k}_$j AS MATERIALIZED (SELECT sum(CAST($mu - y AS DECIMAL(18,6))$mult) AS s FROM d),
           |w${k}_$j AS MATERIALIZED (SELECT round((SELECT v FROM w${p}_$j)
           |  - $lr * round(CAST((SELECT s FROM s${k}_$j) AS DOUBLE) / (SELECT n FROM nn), 6), 6) AS v),
           |""".stripMargin
      sb ++= upd(0, "")
      sb ++= upd(1, " * CAST(x1 AS DECIMAL(18,6))")
      sb ++= upd(2, " * CAST(x2 AS DECIMAL(18,6))")
    }
    sb.setLength(sb.length - 2)
    sb ++= s"""
      |SELECT (SELECT v FROM w${iters}_0) AS w0,
      |  (SELECT v FROM w${iters}_1) AS w1,
      |  (SELECT v FROM w${iters}_2) AS w2""".stripMargin
    sb.toString
  }

  /** Unrolled BPE training replay (the q_kmeans/q_lingd deterministic-
    * iteration pattern, round-9 directive #1): v0 is the word
    * histogram with each word's char-wrapped symbol string; every
    * round k then unrolls as [pair explode p_k] → [exact integer pair
    * counts pc_k] → [argmax pair b_k, count DESC then lexicographic] →
    * [greedy merge application v_{k+1} via boundary-safe replace].
    * Identical string representation and tie-break to Bpe.train, so
    * all 16 rounds replay bit-for-bit.
    */
  private[graft] def bpeVocabCtes(steps: Int): String = {
    // MATERIALIZED is load-bearing: v_{k+1} references v_k ~5 times
    // (directly + through the argmax's scalar subqueries); DuckDB
    // inlines CTEs by default, so 16 rounds would expand ~5^16
    // subtrees (observed as a too-many-open-files explosion).
    // Materializing each round's vocab and argmax keeps the plan
    // linear — 0.2 s at sf0.01.
    val sb = new StringBuilder(
      """w AS MATERIALIZED (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        |  FROM documents),
        |v0 AS MATERIALIZED (
        |  SELECT word, count(*) AS n,
        |    '|' || regexp_replace(word, '(.)', '\1||', 'g') || '_|' AS symstr
        |  FROM w GROUP BY 1)""".stripMargin)
    for (k <- 0 until steps) {
      sb ++= s""",
                |p$k AS (
                |  SELECT n, unnest([struct_pack(lhs := s[i], rhs := s[i+1])
                |                    FOR i IN range(1, len(s))]) AS pr
                |  FROM (SELECT n, string_split(symstr[2:length(symstr)-1], '||') AS s FROM v$k)),
                |pc$k AS (SELECT pr.lhs AS lhs, pr.rhs AS rhs, sum(n) AS cnt FROM p$k GROUP BY 1, 2),
                |b$k AS MATERIALIZED (SELECT lhs, rhs, cnt FROM pc$k ORDER BY cnt DESC, lhs, rhs LIMIT 1),
                |v${k + 1} AS MATERIALIZED (
                |  SELECT word, n, replace(symstr,
                |    '|' || (SELECT lhs FROM b$k) || '||' || (SELECT rhs FROM b$k) || '|',
                |    '|' || (SELECT lhs FROM b$k) || (SELECT rhs FROM b$k) || '|') AS symstr
                |  FROM v$k)""".stripMargin
    }
    sb.toString
  }

  /** Per-doc BPE token counts off the final replayed vocab (the CTEs
    * every bpe-denominated oracle shares): token count per word =
    * symbol count of its final symbol string; per doc = sum over its
    * word occurrences, 0 for wordless docs.
    */
  private[graft] def bpeTokenCountCtes(steps: Int): String =
    bpeVocabCtes(steps) + s""",
       |vt AS (
       |  SELECT word,
       |    CAST(len(string_split(symstr[2:length(symstr)-1], '||')) AS BIGINT) AS n_tokens
       |  FROM v$steps),
       |dw AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
       |  FROM documents),
       |jw AS (SELECT dw.doc_id, vt.n_tokens FROM dw JOIN vt USING (word)),
       |tc AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(coalesce(sum(jw.n_tokens), 0) AS BIGINT) AS bpe_tokens
       |  FROM documents d LEFT JOIN jw ON d.doc_id = jw.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** Shared CTE prefix of the UrlOps oracles: the identical synthetic
    * URL strings, then the identical stage-by-stage decomposition —
    * regexp extracts, per-char %-escape uppercase (list comprehension
    * over string positions), default-port logic, suffix-rule domain.
    */
  /** The synthetic-URL fixture as a DuckDB expression with the key
    * expressions substitutable — shared by the UrlOps oracles (canon
    * keys) and the q_host_rank edge oracle (shifted link-target keys).
    * '||' operators sit at line ENDS so the result survives any outer
    * stripMargin.
    */
  /** Correlation-matrix columns: integer-scaled (cents) projections of
    * lineitem's numeric columns, shared by q_corr_matrix's Spark side
    * and the SQL mirror below.
    */
  private[graft] def corrCols: Seq[(String, Column)] = Seq(
    ("disc", (col("l_discount").cast("decimal(18,2)") * 100).cast("long")),
    ("price", (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")),
    ("qty", col("l_quantity").cast("long")),
    ("tax", (col("l_tax").cast("decimal(18,2)") * 100).cast("long")))

  private[graft] def corrPairs: Seq[(String, String)] = {
    val names = corrCols.map(_._1)
    for {
      i <- names.indices
      j <- names.indices if j > i
    } yield (names(i), names(j))
  }

  private[graft] def corrColSql(name: String): String = name match {
    case "qty" => "CAST(l_quantity AS BIGINT)"
    case "price" => "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    case "disc" => "CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)"
    case "tax" => "CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT)"
  }

  /** (table, columns) pairs the catalog-stats sweep profiles — one
    * definition shared by the Spark side and the SQL mirror.
    */
  private[graft] val catalogSpec: Seq[(String, Seq[String])] = Seq(
    "customer" -> Seq("c_acctbal", "c_custkey", "c_mktsegment", "c_name", "c_nationkey"),
    "nation" -> Seq("n_name", "n_nationkey", "n_regionkey"),
    "region" -> Seq("r_name", "r_regionkey"),
    "supplier" -> Seq("s_acctbal", "s_name", "s_nationkey", "s_suppkey"))

  /** Benford first-digit probabilities log10(1 + 1/d) — ONE definition
    * shared by the Spark frame and the generated oracle literals.
    */
  private[graft] val benfordP: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))

  /** DuckDB mirror of RandomProjection.distortion: same md5 sign
    * matrix (computed here, emitted as +/− literals) and the same
    * left-to-right chained double sums, so doubles agree bit-for-bit.
    */
  private[graft] def randProjSql(d: Int, m: Int, seed: String): String = {
    def x(i: Int) = s"CAST(embedding[$i] AS DOUBLE)"
    val ys = (1 to m).map { j =>
      val chain = (1 to d).map { i =>
        (if (graft.sim.RandomProjection.sign(seed, i, j) > 0) " + " else " - ") + x(i)
      }.mkString
      s"(0.0$chain) AS y$j"
    }.mkString(",\n    ")
    val x2 = (1 to d).map(i => s" + ${x(i)} * ${x(i)}").mkString
    val y2 = (1 to m).map(j => s" + y$j * y$j").mkString
    s"""WITH p AS (
       |  SELECT vec_id, (0.0$x2) AS x_norm2,
       |    $ys
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, x_norm2, (0.0$y2) / $m AS y_norm2_m
       |  FROM p WHERE x_norm2 > 0)
       |SELECT vec_id, round(x_norm2, 6) AS x_norm2,
       |  round(y_norm2_m, 6) AS y_norm2_m,
       |  round(y_norm2_m / x_norm2, 6) AS distortion
       |FROM n ORDER BY vec_id""".stripMargin
  }

  /** Full E2LSH replay: projection chains, CAST-parsed double offsets
    * (string→double is correctly rounded, so the literal carries the
    * exact bits Spark's `lit` plants), floor lattice keys per table,
    * candidate equi-join, chained-sum L2 re-rank.
    */
  private[graft] def e2lshSql(d: Int, g: Int, tables: Int, seed: String, k: Int): String = {
    val m = g * tables
    val ys = (1 to m).map { j =>
      val chain = (1 to d).map { i =>
        (if (graft.sim.RandomProjection.sign(seed, i, j) > 0) " + "
         else " - ") + s"CAST(embedding[$i] AS DOUBLE)"
      }.mkString
      s"(0.0$chain) AS y$j"
    }.mkString(",\n    ")
    val keySelects = (1 to tables).map { t =>
      val key = (1 to g).map { i =>
        val j = (t - 1) * g + i
        s"CAST(CAST(floor(y$j + CAST('${graft.sim.EuclideanLsh.offset(seed, j)}' AS DOUBLE)) AS BIGINT) AS VARCHAR)"
      }.mkString(" || ',' || ")
      s"SELECT vec_id, $t AS t, $key AS bkey FROM p"
    }.mkString("\n  UNION ALL\n  ")
    val dchain = (1 to d).map { i =>
      s" + (CAST(a.embedding[$i] AS DOUBLE) - CAST(b.embedding[$i] AS DOUBLE))" +
        s" * (CAST(a.embedding[$i] AS DOUBLE) - CAST(b.embedding[$i] AS DOUBLE))"
    }.mkString
    s"""WITH p AS (
       |  SELECT vec_id,
       |    $ys
       |  FROM embeddings),
       |keys AS (
       |  $keySelects),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS cand_id
       |  FROM keys q JOIN keys c ON c.t = q.t AND c.bkey = q.bkey
       |  WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
       |dist AS (
       |  SELECT cand.q_id, cand.cand_id, (0.0$dchain) AS dist2
       |  FROM cand
       |  JOIN embeddings a ON a.vec_id = cand.q_id
       |  JOIN embeddings b ON b.vec_id = cand.cand_id),
       |ranked AS (
       |  SELECT q_id, cand_id, dist2,
       |    row_number() OVER (PARTITION BY q_id ORDER BY dist2, cand_id) AS rank
       |  FROM dist)
       |SELECT q_id, CAST(rank AS INT) AS rank, cand_id, dist2
       |FROM ranked WHERE rank <= $k ORDER BY q_id, rank""".stripMargin
  }

  private[graft] def urlSqlExpr(ck: String, ok: String): String =
    s"(CASE $ok % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https' ELSE 'HtTp' END) || " +
      s"'://WWW.Shop' || CAST($ck % 50 AS VARCHAR) || " +
      s"(CASE $ck % 4 WHEN 0 THEN '.example.COM' WHEN 1 THEN '.shop.CO.UK' " +
      s"WHEN 2 THEN '.blog.GitHub.IO' ELSE '.example.ORG' END) || " +
      s"(CASE $ok % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443' " +
      s"WHEN 2 THEN ':8080' ELSE '' END) || " +
      s"'/items%2fview/' || CAST($ok AS VARCHAR) || " +
      s"(CASE WHEN $ok % 2 = 0 THEN '?q=a%3db' ELSE '' END) || " +
      s"(CASE WHEN $ok % 5 = 0 THEN '#Sec%201' ELSE '' END)"

  /** Lowercased host of a URL expression — the parts/parts2 host
    * stages of urlCanonCtes as one nested extract.
    */
  private[graft] def hostSqlExpr(url: String): String =
    "lower(regexp_extract(regexp_extract(trim(" + url +
      "), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^(?:[^@]*@)?([^:@]*)', 1))"

  private[graft] def urlCanonCtes(
      urlExpr: String = urlSqlExpr("o_custkey", "o_orderkey")): String = {
    val suffixes = graft.text.UrlOps.MultiSuffixes.map(x => s"'$x'").mkString(", ")
    s"""u AS (
       |  SELECT o_orderkey,
       |    $urlExpr AS url
       |  FROM orders),
       |parts AS (
       |  SELECT o_orderkey, url,
       |    lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
       |    regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
       |    regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS pq
       |  FROM u),
       |parts2 AS (
       |  SELECT o_orderkey, url, sch,
       |    lower(regexp_extract(hostport, '^(?:[^@]*@)?([^:@]*)', 1)) AS host,
       |    regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
       |    CASE WHEN regexp_replace(pq, '\\?$$', '') = '' THEN '/'
       |         ELSE regexp_replace(pq, '\\?$$', '') END AS pq2
       |  FROM parts),
       |pct AS (
       |  SELECT o_orderkey, url, sch, host, port,
       |    array_to_string([CASE WHEN (i > 1 AND pq2[i-1] = '%') OR (i > 2 AND pq2[i-2] = '%')
       |                     THEN upper(pq2[i]) ELSE pq2[i] END
       |                     FOR i IN range(1, length(pq2) + 1)], '') AS pqn
       |  FROM parts2),
       |canon AS (
       |  SELECT o_orderkey, url,
       |    sch || '://' || host
       |    || (CASE WHEN port <> '' AND NOT ((sch = 'http' AND port = '80')
       |             OR (sch = 'https' AND port = '443'))
       |        THEN ':' || port ELSE '' END) || pqn AS canon,
       |    host,
       |    CASE WHEN len(string_split(host, '.')) <= 1 THEN host
       |         WHEN len(string_split(host, '.')) >= 3
       |              AND (string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1])
       |                  IN ($suffixes)
       |         THEN string_split(host, '.')[-3] || '.' || string_split(host, '.')[-2]
       |              || '.' || string_split(host, '.')[-1]
       |         ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
       |    END AS domain
       |  FROM pct)""".stripMargin
  }

  /** Morton-code replay: integer bucketize both dims (floor division,
    * exact), then one explicit term per bit lane — dim 0 in even bit
    * positions, dim 1 in odd.
    */
  private[graft] def zorderOracle(bits: Int): String = {
    val termsP = (0 until bits).map(i => s"(((bp >> $i) & 1) << ${i * 2})").mkString(" + ")
    val termsS = (0 until bits).map(i => s"(((bs >> $i) & 1) << ${i * 2 + 1})").mkString(" + ")
    s"""WITH mm AS (
       |  SELECT min(l_partkey) AS pmn, max(l_partkey) AS pmx,
       |    min(l_suppkey) AS smn, max(l_suppkey) AS smx
       |  FROM lineitem),
       |b AS (
       |  SELECT l_orderkey, l_linenumber,
       |    ((l_partkey - (SELECT pmn FROM mm)) * ${1 << bits})
       |      // ((SELECT pmx FROM mm) - (SELECT pmn FROM mm) + 1) AS bp,
       |    ((l_suppkey - (SELECT smn FROM mm)) * ${1 << bits})
       |      // ((SELECT smx FROM mm) - (SELECT smn FROM mm) + 1) AS bs
       |  FROM lineitem)
       |SELECT l_orderkey, l_linenumber,
       |  CAST($termsP + $termsS AS BIGINT) AS zval
       |FROM b ORDER BY l_orderkey, l_linenumber""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
}
