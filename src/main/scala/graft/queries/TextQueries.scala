package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSessions.tablePath
import graft.text.TextAnalysis._

/** Text-analysis operators over the `documents` table: token counting
  * (whitespace + BPE-ish regex), quality scoring, n-gram language-ID,
  * content fingerprinting. All partition-local (no shuffle except the
  * explicit rollup), all oracle-checked against bit-identical DuckDB
  * formulations (see TextAnalysis for the pairing rules).
  */
object TextQueries extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(tablePath(dir, "documents"))

  private val tgCache = new graft.tables.SessionMemo[(String, Int), DataFrame]

  /** Memoized + persisted split-tagged exploded n-grams per
    * (session, dir, n): the JVM gram derivation is the expensive narrow
    * stage of the decontamination family and was previously recomputed
    * once per split filter — compute it once per JVM and let Bench time
    * it as the explicit `build_text_grams` entry. */
  def taggedGramsCached(s: SparkSession, dir: String, n: Int): DataFrame =
    tgCache.getOrElseUpdate(s, (dir, n))({
      val df = graft.text.TextAnalysis.explodedGramsJvm(
          docs(s, dir).selectExpr(
            "doc_id", s"${splitSpark("doc_id")} AS tag", "text"), n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    })

  private val repStatsCache = new graft.tables.SessionMemo[(String, Int), DataFrame]

  /** Memoized per-doc POSITIONAL n-gram repetition stats (tag = lang):
    * total occurrences, max single-gram count, distinct grams. The n=2
    * and n=3 positional derivations are the narrow heavy stage of
    * `text_rep_flags`; deriving them inline made that query's bench
    * number an artifact of run order (three rounds of phantom
    * "regressions"). One row per doc after aggregation, so the persist
    * is tiny even though the exploded intermediate is not. */
  def repGramStatsCached(s: SparkSession, dir: String, n: Int): DataFrame =
    repStatsCache.getOrElseUpdate(s, (dir, n))({
      val df = graft.text.TextAnalysis.explodedGramsPosJvm(
          docs(s, dir).selectExpr("doc_id", "lang AS tag", "text"), n)
        .groupBy("doc_id", "tag", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "tag")
        .agg(sum("c").as(s"tot$n"), max("c").as(s"max$n"),
          count(lit(1)).as(s"nd$n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    })

  /** Pre-build the memoized text-family shared state (the 5-gram
    * derivation feeding decontamination, and the n=2/n=3 positional
    * repetition stats feeding `text_rep_flags`) so Bench charges all
    * gram derivations to `build_text_grams`, not to whichever text query
    * runs first. The LSH candidate build is already itemized as
    * `build_dedup_shared`. */
  def ensureSeeded(s: SparkSession, dir: String): Unit = {
    // Four mutually independent builds (each reads documents.parquet
    // directly; no shared memo) overlapped per guide §2.6 — the BPE
    // chain's 1-row argmax collects leave local[N] nearly idle, exactly
    // the gaps the gram shuffles back-fill.
    SeedPar.all(Seq(
      () => taggedGramsCached(s, dir, 5).count(),
      () => repGramStatsCached(s, dir, 2),
      () => repGramStatsCached(s, dir, 3),
      () => bpeChainCached(s, dir)))
    ()
  }

  private val enHits = profileHitsSpark(langProfiles.head._2)
  private val enHitsDuck = profileHitsDuck(langProfiles.head._2)

  /** Spark SQL string literal for a runtime token value (BPE merge
    * application embeds learned symbols into the next round's replace). */
  private def sqlLit(v: String): String = "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Shorthand for the repo-shared order-free exact sum — see
    * [[ExactSum.qsum]] for the quantize-to-i64 design and the residual
    * ordered-fold site survey. Magnitudes here: |v| ≤ ~1, so the i64
    * overflows only past ~9e9 addends per group — far beyond any doc. */
  private def qsum(v: String): String = ExactSum.qsum(v)

  private val ccnetCache = new graft.tables.SessionMemo[String, DataFrame]

  /** The per-doc CCNet LM score table (doc_id, lang, n_bigrams, n_hits,
    * lm_score), memoized + persisted per (session, dir): text_ccnet_lm
    * gates it directly and text_ccnet_buckets terciles it — computing
    * the three model joins once. See text_ccnet_lm's doc for the model
    * and IEEE-pairing rules. */
  private def ccnetScoresCached(s: SparkSession, dir: String): DataFrame =
    ccnetCache.getOrElseUpdate(s, dir)({
      val t = docs(s, dir).withColumn("toks", expr(toksSpark))
      val bg = t.where(size(col("toks")) >= 2)
        .selectExpr("doc_id", "lang",
          "posexplode(transform(sequence(1, size(toks) - 1), i -> named_struct('w1', try_element_at(toks, i), 'w2', try_element_at(toks, i + 1)))) AS (p0, b)")
        .selectExpr("doc_id", "lang", "p0 + 1 AS pos", "b.w1 AS w1", "b.w2 AS w2")
      val cu = t.where(col("lang") === "en")
        .selectExpr("explode(toks) AS w")
        .groupBy("w").agg(count(lit(1)).as("cu"))
      val nt = cu.agg(sum("cu").cast("long").as("nt"))
      val cb = bg.where(col("lang") === "en")
        .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      val scored = bg.join(cb, Seq("w1", "w2"), "left")
        .join(cu.select(col("w").as("w1"), col("cu").as("cu1")), Seq("w1"), "left")
        .join(cu.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"), "left")
        .crossJoin(broadcast(nt))
        .selectExpr("doc_id", "lang", "pos", "cb",
          """CASE WHEN cb IS NOT NULL THEN CAST(cb AS DOUBLE) / CAST(cu1 AS DOUBLE)
            | ELSE (CAST(0.4 AS DOUBLE) * CAST(coalesce(cu2, 0) + 1 AS DOUBLE)) / CAST(nt + 65536 AS DOUBLE) END AS p""".stripMargin.replace("\n", ""))
        .selectExpr("doc_id", "lang", "pos", "cb",
          "(p - CAST(1.0 AS DOUBLE)) / (p + CAST(1.0 AS DOUBLE)) AS sc")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          count(col("cb")).cast("long").as("n_hits"),
          expr(qsum("sc")).as("score"))
        .selectExpr("doc_id", "lang", "n_bigrams", "n_hits",
          "round(score / CAST(n_bigrams AS DOUBLE), 6) AS lm_score")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      scored.count()
      scored
    })

  /** DuckDB replay of the same per-doc score table, ending in the
    * `perdoc` CTE — shared by both ccnet oracles. */
  private lazy val ccnetDuckChain: String =
    s"""t AS (SELECT doc_id, lang, $toksDuck AS toks FROM documents),
       |bg AS (SELECT doc_id, lang,
       |    unnest(range(1, len(toks))) AS pos,
       |    unnest(toks[1:len(toks)-1]) AS w1,
       |    unnest(toks[2:len(toks)]) AS w2
       |  FROM t WHERE len(toks) >= 2),
       |cu AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
       |  FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en') GROUP BY w),
       |nt AS (SELECT CAST(sum(cu) AS BIGINT) AS nt FROM cu),
       |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
       |  FROM bg WHERE lang = 'en' GROUP BY w1, w2),
       |p AS (SELECT doc_id, lang, pos, cb.cb,
       |    CASE WHEN cb.cb IS NOT NULL THEN CAST(cb.cb AS DOUBLE) / CAST(c1.cu AS DOUBLE)
       |      ELSE (CAST(0.4 AS DOUBLE) * CAST(COALESCE(c2.cu, 0) + 1 AS DOUBLE)) / CAST(nt + 65536 AS DOUBLE) END AS p
       |  FROM bg
       |  LEFT JOIN cb ON bg.w1 = cb.w1 AND bg.w2 = cb.w2
       |  LEFT JOIN cu c1 ON bg.w1 = c1.w
       |  LEFT JOIN cu c2 ON bg.w2 = c2.w
       |  CROSS JOIN nt),
       |sc AS (SELECT doc_id, lang, pos, cb,
       |    (p - CAST(1.0 AS DOUBLE)) / (p + CAST(1.0 AS DOUBLE)) AS sc FROM p),
       |perdoc AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(count(cb) AS BIGINT) AS n_hits,
       |  round(${qsum("sc")}
       |    / CAST(count(*) AS DOUBLE), 6) AS lm_score
       |FROM sc GROUP BY doc_id, lang)""".stripMargin

  private val bpeSteps = 8

  private val bpeCache = new graft.tables.SessionMemo[String, (Seq[(Long, String, String, Long)], Seq[DataFrame])]

  /** The BPE training chain, memoized per (session, dir): the learned
    * merge table and every intermediate weighted-vocabulary state
    * w0..w8 (narrow transformations over the persisted character
    * vocab, which stays cached for the session like the other shared
    * text builds). Each round = one vocab-sized pair-count shuffle +
    * a 1-row argmax collect. */
  private def bpeChainCached(
      s: SparkSession, dir: String): (Seq[(Long, String, String, Long)], Seq[DataFrame]) =
    bpeCache.getOrElseUpdate(s, dir)({
      val vocab = docs(s, dir).withColumn("toks", expr(toksSpark))
        .selectExpr("explode(toks) AS word")
        .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
        .selectExpr(
          "concat(' ', concat_ws(' ', transform(sequence(1, length(word)), i -> substring(word, i, 1))), ' ') AS sym",
          "freq")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var w = vocab
      val states = Seq.newBuilder[DataFrame]
      states += vocab
      val merges = Seq.newBuilder[(Long, String, String, Long)]
      for (i <- 1 to bpeSteps) {
        val top = w
          .selectExpr("freq", "filter(split(sym, ' '), x -> x != '') AS t")
          .where("size(t) >= 2")
          .selectExpr("freq",
            "explode(transform(sequence(1, size(t) - 1), i -> named_struct('a', element_at(t, i), 'b', element_at(t, i + 1)))) AS pr")
          .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
          .agg(sum("freq").as("c"))
          .orderBy(col("c").desc, col("a"), col("b")).limit(1)
          .collect()
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((i.toLong, a, b, c))
        w = w.withColumn("sym",
          expr(s"replace(sym, concat(' ', ${sqlLit(a)}, ' ', ${sqlLit(b)}, ' '), concat(' ', ${sqlLit(a)}, ${sqlLit(b)}, ' '))"))
        states += w
      }
      (merges.result(), states.result())
    })

  /** The DuckDB replay of the same chain: w0 (character vocab) then
    * p_i/m_i/w_i per round — shared by both BPE oracles. */
  private lazy val bpeDuckChain: String = {
    val chain = (1 to bpeSteps).map { i =>
      s"""p$i AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS c FROM (
         |    SELECT freq, unnest(t[1:len(t)-1]) AS a, unnest(t[2:len(t)]) AS b
         |    FROM (SELECT list_filter(string_split(sym, ' '), x -> x <> '') AS t, freq FROM w${i - 1})
         |    WHERE len(t) >= 2) GROUP BY a, b),
         |m$i AS (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
         |w$i AS (SELECT replace(sym, ' ' || m$i.a || ' ' || m$i.b || ' ', ' ' || m$i.a || m$i.b || ' ') AS sym, freq FROM w${i - 1}, m$i)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (SELECT concat(' ', array_to_string([substr(word, i, 1) for i in range(1, len(word) + 1)], ' '), ' ') AS sym, freq
       |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |    FROM (SELECT unnest($toksDuck) AS word FROM documents) GROUP BY word)),
       |$chain""".stripMargin
  }

  /** The corpus quality score (length/stopword composite, rounded to the
    * 1e-4 grain) — ONE definition per engine; every consumer (stats,
    * curation, keep-policy, data card) interpolates these so the formula
    * cannot drift between oracles. `q10k*` is the integer-grain form
    * (quality·10⁴) used wherever quality is summed or totally ordered. */
  private val qualitySpark =
    s"round(least(CAST(size(toks) AS DOUBLE) / 50.0, 1.0) * 0.5 + ($enHits / CAST(size(toks) AS DOUBLE)) * 0.5, 4)"
  private val qualityDuck =
    s"round(least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.5 + ($enHitsDuck / CAST(len(toks) AS DOUBLE)) * 0.5, 4)"
  private val q10kSpark = s"CAST(round($qualitySpark * 10000, 0) AS BIGINT)"
  private val q10kDuck = s"CAST(round($qualityDuck * 10000, 0) AS BIGINT)"

  /** Fixed retrieval query for `text_bm25_topk` (terms from the corpus
    * vocabulary with distinct document frequencies). */
  private val bm25Terms = Seq("merge", "window", "customer")

  /** BM25 (k1 = 1.2, b = 0.75) per-(doc, term) contribution — IDENTICAL
    * text in Spark SQL and DuckDB so every IEEE op runs in the same
    * order. idf stays the rational odds ratio (no ln — libm results are
    * not bit-pinned across engines); tf/df/dl/n_docs are BIGINT, avgdl
    * DOUBLE, so each mixed op promotes exactly. */
  private val bm25ScoreSql =
    "((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) * " +
      "((tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * (dl / avgdl))))"

  /** Same text in Spark SQL and DuckDB: argmax by fixed preference order. */
  private val predictedCase =
    """CASE WHEN h_en >= greatest(h_es, h_de, h_fr, h_zh) THEN 'en'
      |     WHEN h_es >= greatest(h_de, h_fr, h_zh) THEN 'es'
      |     WHEN h_de >= greatest(h_fr, h_zh) THEN 'de'
      |     WHEN h_fr >= h_zh THEN 'fr'
      |     ELSE 'zh' END AS predicted_lang""".stripMargin.replace("\n", " ")

  override def queries: Seq[EngineQuery] = Seq(

    // Deterministic 80/10/10 train/val/test split by content-stable
    // md5-bucket of doc_id — reproducible across engines/runs/partitions
    // (TextAnalysis.splitSpark); checked per-split with doc and char
    // tallies so a single reassigned doc would flip the hash.
    EngineQuery(
      "text_split",
      (s, dir) =>
        docs(s, dir)
          .selectExpr(s"${splitSpark("doc_id")} AS split", "text")
          .groupBy("split")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(length(col("text"))).as("n_chars")),
      Some(s"""SELECT ${splitDuck("doc_id")} AS split,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(length(text)) AS BIGINT) AS n_chars
              |FROM documents GROUP BY 1""".stripMargin)),

    EngineQuery(
      "text_stats",
      (s, dir) =>
        docs(s, dir).withColumn("toks", expr(toksSpark)).selectExpr(
          "doc_id",
          "CAST(size(toks) AS BIGINT) AS n_tokens",
          s"$bpeSpark AS bpe_tokens",
          "round(aggregate(toks, CAST(0 AS BIGINT), (a, t) -> a + length(t)) / CAST(size(toks) AS DOUBLE), 4) AS avg_token_len",
          s"round($enHits / CAST(size(toks) AS DOUBLE), 4) AS stop_ratio",
          s"$qualitySpark AS quality"),
      Some(s"""WITH t AS (SELECT doc_id, text, $toksDuck AS toks FROM documents)
              |SELECT doc_id,
              |  CAST(len(toks) AS BIGINT) AS n_tokens,
              |  $bpeDuck AS bpe_tokens,
              |  round(CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) / CAST(len(toks) AS DOUBLE), 4) AS avg_token_len,
              |  round($enHitsDuck / CAST(len(toks) AS DOUBLE), 4) AS stop_ratio,
              |  $qualityDuck AS quality
              |FROM t""".stripMargin)),

    // Language-ID: stopword-profile hit counts per language; prediction by
    // max hits (integer compare — no float ties), fixed preference order.
    EngineQuery(
      "text_langid",
      (s, dir) => {
        val hitCols = langProfiles.map { case (l, ws) =>
          s"CAST(${profileHitsSpark(ws)} AS INT) AS h_$l"
        }
        docs(s, dir).withColumn("toks", expr(toksSpark))
          .selectExpr(Seq("doc_id", "lang") ++ hitCols: _*)
          .selectExpr("*", predictedCase)
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, $toksDuck AS toks FROM documents),
              |h AS (SELECT doc_id, lang,
              |  ${langProfiles.map { case (l, ws) => s"CAST(${profileHitsDuck(ws)} AS INT) AS h_$l" }.mkString(",\n  ")}
              |FROM t)
              |SELECT *, $predictedCase FROM h""".stripMargin)),

    EngineQuery(
      "text_fingerprint",
      (s, dir) =>
        docs(s, dir).selectExpr(
          "doc_id",
          "md5(text) AS md5_hex",
          s"${hash60Spark("text")} AS content_hash",
          s"$fp5Spark AS shingle_fp"),
      Some(s"""SELECT doc_id, md5(text) AS md5_hex,
              |  ${hash60Duck("text")} AS content_hash,
              |  $fp5Duck AS shingle_fp
              |FROM documents""".stripMargin)),

    // Repetition-based quality signals (the Gopher-family repetition
    // filters): per-doc duplicate-token fraction, duplicate-bigram
    // fraction, and most-frequent-token share. All integer-ratio
    // arithmetic (exact in both engines), all partition-local — at 100 TB
    // this is a narrow projection with zero shuffles.
    EngineQuery(
      "text_repetition",
      (s, dir) =>
        docs(s, dir).withColumn("toks", expr(toksSpark))
          .withColumn("bg", expr(
            "transform(sequence(1, greatest(size(toks) - 1, 1)), i -> concat_ws(' ', try_element_at(toks, i), try_element_at(toks, i + 1)))"))
          .selectExpr(
            "doc_id",
            "CAST(size(toks) AS BIGINT) AS n_tokens",
            "round((size(toks) - size(array_distinct(toks))) / CAST(size(toks) AS DOUBLE), 4) AS dup_token_ratio",
            "round((size(bg) - size(array_distinct(bg))) / CAST(size(bg) AS DOUBLE), 4) AS dup_bigram_ratio",
            "round(array_max(transform(array_distinct(toks), t -> size(filter(toks, x -> x = t)))) / CAST(size(toks) AS DOUBLE), 4) AS top_token_ratio"),
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS toks FROM documents),
              |b AS (SELECT doc_id, toks,
              |  [concat_ws(' ', toks[i], toks[i+1]) for i in range(1, greatest(len(toks) - 1, 1) + 1)] AS bg
              |  FROM t)
              |SELECT doc_id,
              |  CAST(len(toks) AS BIGINT) AS n_tokens,
              |  round((len(toks) - len(list_distinct(toks))) / CAST(len(toks) AS DOUBLE), 4) AS dup_token_ratio,
              |  round((len(bg) - len(list_distinct(bg))) / CAST(len(bg) AS DOUBLE), 4) AS dup_bigram_ratio,
              |  round(list_max([len(list_filter(toks, x -> x = t)) for t in list_distinct(toks)]) / CAST(len(toks) AS DOUBLE), 4) AS top_token_ratio
              |FROM b""".stripMargin)),

    // Benchmark decontamination: find train-split documents sharing any
    // word 5-gram with the held-out test split (the n-gram-overlap
    // contamination check run before every pretraining job). The eval
    // side is small by construction (10% here; a real eval suite is tiny
    // vs the corpus), so its exploded grams BROADCAST — the 100 TB train
    // side streams through a broadcast hash join with no shuffle; only
    // the per-doc rollup shuffles, keyed on doc_id with partial agg.
    EngineQuery(
      "text_decontaminate",
      (s, dir) => {
        // Exploded grams come from the JVM flatMap dual
        // (TextAnalysis.explodedGramsJvm): explode(<gram-HOF>) lets
        // Catalyst inline the gram chain into Generate, which re-runs it
        // per EMITTED row — 20× the whole query's cost at sf0.1. Parity
        // with the SQL/oracle gram derivation is pinned by
        // GramParitySpec. Memoized+persisted so the two split filters
        // share one derivation (and Bench itemizes it).
        val g = taggedGramsCached(s, dir, 5)
        val evalG = g.filter(col("tag") === "test")
          .selectExpr("doc_id AS eval_id", "gram")
        val trainG = g.filter(col("tag") === "train")
          .selectExpr("doc_id", "gram")
        trainG.join(broadcast(evalG), "gram")
          .groupBy("doc_id")
          .agg(
            countDistinct("eval_id").as("n_eval_docs"),
            countDistinct("gram").as("n_shared_grams"))
      },
      Some(s"""WITH t AS (SELECT doc_id, ${splitDuck("doc_id")} AS split, $toksDuck AS toks FROM documents),
              |g0 AS (SELECT doc_id, split, ${gramsNDuck(5)} AS grams FROM t),
              |g AS (SELECT doc_id, split, unnest(grams) AS gram FROM g0),
              |ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE split = 'test'),
              |tr AS (SELECT doc_id, gram FROM g WHERE split = 'train')
              |SELECT tr.doc_id,
              |  CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs,
              |  CAST(count(DISTINCT tr.gram) AS BIGINT) AS n_shared_grams
              |FROM tr JOIN ev ON tr.gram = ev.gram
              |GROUP BY tr.doc_id""".stripMargin)),

    // The end-to-end curation pipeline: quality-score every document,
    // assign near-duplicate cluster representatives, keep one survivor
    // per cluster above the quality bar — the composed operator a
    // training-data pipeline actually runs. Near-dup pairs come from the
    // LSH candidate path (minhashPairsCached — the 100 TB plan); the
    // oracle runs the identical banded generation, so candidate recall
    // is pinned, not assumed.
    EngineQuery(
      "text_curate",
      (s, dir) => {
        val d = docs(s, dir)
        val scored = d.withColumn("toks", expr(toksSpark)).selectExpr(
          "doc_id", "lang",
          s"$qualitySpark AS quality")
        val reps = graft.dedup.Dedup.clusterReps(
          d, DedupQueries.minhashPairsCached(s, dir, 0.8))
        scored.join(reps, Seq("doc_id"))
          .filter(col("rep_id") === col("doc_id") && col("quality") >= 0.35)
          .select(col("doc_id"), col("lang"), col("quality"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, text, lang, $toksDuck AS toks FROM documents),
              |scored AS (SELECT doc_id, lang,
              |  $qualityDuck AS quality
              |  FROM tk),
              |g AS (SELECT doc_id, $grams3Duck AS grams FROM tk),
              |${DedupQueries.duckLshPairs(0.8)},
              |nbr AS (SELECT doc_id, min(nb) AS min_nb FROM (
              |    SELECT a_id AS doc_id, b_id AS nb FROM lsh_pairs
              |    UNION ALL SELECT b_id, a_id FROM lsh_pairs) GROUP BY doc_id),
              |reps AS (SELECT d.doc_id, least(d.doc_id, coalesce(min_nb, d.doc_id)) AS rep_id
              |  FROM documents d LEFT JOIN nbr ON d.doc_id = nbr.doc_id)
              |SELECT s.doc_id, s.lang, s.quality
              |FROM scored s JOIN reps r ON s.doc_id = r.doc_id
              |WHERE r.rep_id = s.doc_id AND s.quality >= 0.35""".stripMargin)),

    // The FULL curation pipeline in one DAG — quality gate → transitive
    // near-dup dedup (connected components over the LSH candidates) →
    // language rebalance (data-derived rates) → deterministic
    // train/val/test split → per-(split, lang) rollup. Every stage is an
    // operator this engine ships individually; this query pins that they
    // COMPOSE, end-to-end, bit-for-bit against a single SQL replay
    // (recursive closure + rate window + hash thresholds included).
    EngineQuery(
      "pipeline_curation",
      (s, dir) => {
        val d = docs(s, dir)
        val scored = d.withColumn("toks", expr(toksSpark)).selectExpr(
          "doc_id", "lang", "text",
          s"$qualitySpark AS quality")
        val cc = graft.dedup.ConnectedComponents.labels(
            d.selectExpr("doc_id AS id"),
            DedupQueries.minhashPairsCached(s, dir, 0.8))
          .selectExpr("id AS doc_id", "label AS rep_id")
        val kept = scored.join(cc, Seq("doc_id"))
          .filter(col("rep_id") === col("doc_id") && col("quality") >= 0.35)
          .select("doc_id", "lang", "text")
        graft.sample.Sampling.rebalance(kept, "CAST(doc_id AS STRING)", "lang")
          .selectExpr("lang", s"${splitSpark("doc_id")} AS split", "text")
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("n_chars"))
      },
      Some(s"""WITH RECURSIVE tk AS (SELECT doc_id, text, lang, $toksDuck AS toks FROM documents),
              |scored AS (SELECT doc_id, lang, text,
              |  $qualityDuck AS quality
              |  FROM tk),
              |g AS (SELECT doc_id, $grams3Duck AS grams FROM tk),
              |${DedupQueries.duckLshPairs(0.8)},
              |e AS (SELECT a_id AS a, b_id AS b FROM lsh_pairs
              |      UNION SELECT b_id, a_id FROM lsh_pairs),
              |reach(a, b) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
              |cc AS (SELECT a AS doc_id, min(b) AS rep_id FROM reach GROUP BY a),
              |kept AS (
              |  SELECT s.doc_id, s.lang, s.text
              |  FROM scored s JOIN cc r ON s.doc_id = r.doc_id
              |  WHERE r.rep_id = s.doc_id AND s.quality >= 0.35),
              |c AS (SELECT lang, count(*) AS cnt FROM kept GROUP BY lang),
              |rt AS (SELECT lang, CAST(min(cnt) OVER () AS DOUBLE) / CAST(cnt AS DOUBLE) AS rate FROM c),
              |bal AS (
              |  SELECT k.* FROM kept k JOIN rt ON k.lang = rt.lang
              |  WHERE ${hash60Duck("CAST(k.doc_id AS VARCHAR)")} <
              |    CAST(floor(rate * 1152921504606846976.0) AS BIGINT))
              |SELECT ${splitDuck("doc_id")} AS split, lang,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(length(text)) AS BIGINT) AS n_chars
              |FROM bal GROUP BY 1, 2""".stripMargin)),

    // Leakage-PROOF splitting — the fix text_split_leakage's off-diagonal
    // rows demand: assign train/val/test by the hash of the TRANSITIVE
    // near-dup cluster label (connected components over the LSH
    // candidates), so every member of a cluster lands in the same split
    // by construction. The cross-tab of near-dup pairs by their ends'
    // splits must then be purely diagonal — one-hop reps would NOT give
    // this guarantee (a chain a-b-c can split reps across b and c); the
    // closure does, and the oracle replays it recursively.
    EngineQuery(
      "text_split_safe",
      (s, dir) => {
        val d = docs(s, dir)
        val cc = graft.dedup.ConnectedComponents.labels(
            d.selectExpr("doc_id AS id"),
            DedupQueries.minhashPairsCached(s, dir, 0.8))
          .selectExpr("id AS doc_id", "label")
        val splits = cc.selectExpr("doc_id", s"${splitSpark("label")} AS split")
        val tallies = splits.groupBy("split").agg(count(lit(1)).as("n_docs_a"))
        DedupQueries.minhashPairsCached(s, dir, 0.8)
          .join(splits.selectExpr("doc_id AS a_id", "split AS split_a"), "a_id")
          .join(splits.selectExpr("doc_id AS b_id", "split AS split_b"), "b_id")
          .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
          .join(tallies.withColumnRenamed("split", "split_a"), "split_a")
      },
      Some(s"""WITH RECURSIVE tk AS (SELECT doc_id, text, $toksDuck AS toks FROM documents),
              |g AS (SELECT doc_id, $grams3Duck AS grams FROM tk),
              |${DedupQueries.duckLshPairs(0.8)},
              |e AS (SELECT a_id AS a, b_id AS b FROM lsh_pairs
              |      UNION SELECT b_id, a_id FROM lsh_pairs),
              |reach(a, b) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
              |cc AS (SELECT a AS doc_id, min(b) AS label FROM reach GROUP BY a),
              |sp AS (SELECT doc_id, ${splitDuck("label")} AS split FROM cc),
              |ct AS (SELECT a.split AS split_a, b.split AS split_b,
              |    CAST(count(*) AS BIGINT) AS n_pairs
              |  FROM lsh_pairs p
              |  JOIN sp a ON p.a_id = a.doc_id
              |  JOIN sp b ON p.b_id = b.doc_id
              |  GROUP BY 1, 2),
              |tl AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs_a FROM sp GROUP BY 1)
              |SELECT split_a, split_b, n_pairs, n_docs_a
              |FROM ct JOIN tl ON tl.split = ct.split_a""".stripMargin)),

    // Corpus-level n-gram statistics: top-20 word bigrams (explode →
    // count → total-ordered top-k). The corpus-wide dual of the per-doc
    // text operators; at 100 TB this is one shuffle with map-side combine.
    EngineQuery(
      "text_top_bigrams",
      (s, dir) =>
        docs(s, dir).withColumn("toks", expr(toksSpark))
          .selectExpr("explode(transform(sequence(1, greatest(size(toks) - 1, 1)), i -> concat_ws(' ', try_element_at(toks, i), try_element_at(toks, i + 1)))) AS bigram")
          .groupBy("bigram").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram").asc)
          .limit(20),
      Some(s"""WITH t AS (SELECT $toksDuck AS toks FROM documents),
              |b AS (SELECT unnest([concat_ws(' ', toks[i], toks[i+1])
              |    for i in range(1, greatest(len(toks) - 1, 1) + 1)]) AS bigram FROM t)
              |SELECT bigram, CAST(count(*) AS BIGINT) AS n
              |FROM b GROUP BY bigram
              |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin)),

    // Collocation mining by PMI: bigram counts vs the independence
    // expectation from unigram counts — the lexical-statistics operator
    // for phrase discovery / tokenizer-merge candidates. The PMI is kept
    // as the rational odds p(x,y)/(p(x)p(y)) = c_xy·N²/(N_bi·c_x·c_y)
    // (a monotone transform of log-PMI — no libm in the gate) with a
    // fixed multiply order in DOUBLE. Shape at scale: two explode+count
    // shuffles (unigrams, bigrams), the ≥5-count filter shrinks the
    // bigram side BEFORE its two vocabulary joins, top-k is TakeOrdered.
    EngineQuery(
      "text_collocations",
      (s, dir) => {
        val toks = docs(s, dir).withColumn("toks", expr(toksSpark))
        val uni = toks.select(explode(col("toks")).as("w"))
        val uc = uni.groupBy("w").agg(count(lit(1)).cast("long").as("c_w"))
        val nu = uni.agg(count(lit(1)).cast("long").as("n_uni"))
        val bc0 = toks
          .selectExpr("explode(transform(sequence(1, greatest(size(toks) - 1, 1)), i -> concat_ws(' ', try_element_at(toks, i), try_element_at(toks, i + 1)))) AS bigram")
          .groupBy("bigram").agg(count(lit(1)).cast("long").as("c_xy"))
        val nb = bc0.agg(sum("c_xy").cast("long").as("n_bi"))
        val sp = bc0.filter(col("c_xy") >= 5)
          .withColumn("w1", expr("element_at(split(bigram, ' '), 1)"))
          .withColumn("w2", expr("element_at(split(bigram, ' '), 2)"))
        sp
          .join(uc.withColumnRenamed("w", "w1").withColumnRenamed("c_w", "c_x"), "w1")
          .join(uc.withColumnRenamed("w", "w2").withColumnRenamed("c_w", "c_y"), "w2")
          .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
          .selectExpr("bigram", "c_xy",
            "((CAST(c_xy AS DOUBLE) * n_uni) * n_uni) / ((CAST(n_bi AS DOUBLE) * c_x) * c_y) AS pmi_odds")
          .orderBy(col("pmi_odds").desc, col("bigram").asc)
          .limit(20)
          .select(col("bigram"), col("c_xy"), round(col("pmi_odds"), 6).as("pmi_odds"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS toks FROM documents),
              |uni AS (SELECT unnest(toks) AS w FROM t),
              |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM uni GROUP BY w),
              |nu AS (SELECT CAST(count(*) AS BIGINT) AS n_uni FROM uni),
              |b AS (SELECT unnest([concat_ws(' ', toks[i], toks[i+1])
              |    for i in range(1, greatest(len(toks) - 1, 1) + 1)]) AS bigram FROM t),
              |bc0 AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_xy FROM b GROUP BY bigram),
              |nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bi FROM bc0),
              |sp AS (SELECT bigram, c_xy, string_split(bigram, ' ')[1] AS w1,
              |    string_split(bigram, ' ')[2] AS w2 FROM bc0 WHERE c_xy >= 5),
              |j AS (SELECT sp.bigram, sp.c_xy, u1.c_w AS c_x, u2.c_w AS c_y
              |  FROM sp JOIN uc u1 ON u1.w = sp.w1 JOIN uc u2 ON u2.w = sp.w2),
              |s AS (SELECT bigram, c_xy,
              |    ((CAST(c_xy AS DOUBLE) * n_uni) * n_uni) / ((CAST(n_bi AS DOUBLE) * c_x) * c_y) AS pmi_odds
              |  FROM j CROSS JOIN nu CROSS JOIN nb)
              |SELECT bigram, c_xy, round(pmi_odds, 6) AS pmi_odds
              |FROM s ORDER BY s.pmi_odds DESC, bigram ASC LIMIT 20""".stripMargin)),

    // Cross-split leakage audit: LSH-verified near-dup pairs whose two
    // documents landed in DIFFERENT train/val/test splits — the split-
    // hygiene metric (a test doc near-duplicating a train doc leaks the
    // benchmark). Pairs come from the banded candidate path; the
    // cross-tab is one tiny aggregate over them. Diagonal rows = safe
    // in-split duplication; off-diagonal = leakage to fix by splitting
    // on the CLUSTER representative instead of the raw doc.
    EngineQuery(
      "text_split_leakage",
      (s, dir) => {
        val splits = docs(s, dir)
          .selectExpr("doc_id", s"${splitSpark("doc_id")} AS split")
        DedupQueries.minhashPairsCached(s, dir, 0.8)
          .select("a_id", "b_id")
          .join(splits.withColumnRenamed("doc_id", "a_id")
            .withColumnRenamed("split", "split_a"), "a_id")
          .join(splits.withColumnRenamed("doc_id", "b_id")
            .withColumnRenamed("split", "split_b"), "b_id")
          .selectExpr("least(split_a, split_b) AS s1",
            "greatest(split_a, split_b) AS s2")
          .groupBy("s1", "s2")
          .agg(count(lit(1)).cast("long").as("n_pairs"))
      },
      Some(s"""${graft.queries.DedupQueries.duckGrams},
              |${graft.queries.DedupQueries.duckLshPairs(0.8)},
              |sp AS (SELECT doc_id, ${splitDuck("doc_id")} AS split FROM documents)
              |SELECT least(sa.split, sb.split) AS s1,
              |  greatest(sa.split, sb.split) AS s2,
              |  CAST(count(*) AS BIGINT) AS n_pairs
              |FROM lsh_pairs l
              |JOIN sp sa ON sa.doc_id = l.a_id
              |JOIN sp sb ON sb.doc_id = l.b_id
              |GROUP BY 1, 2""".stripMargin)),

    // Statistical-LM fluency score: each document's mean corpus
    // conditional bigram probability p(w2|w1) = c(w1 w2)/c(w1) — the
    // perplexity-family quality signal computable without a neural LM
    // (low scores flag token-soup / boilerplate-free-text mismatch).
    // All probabilities are integer-count ratios; the per-doc mean uses
    // the ORDER-FREE quantized-integer sum (qsum) so both engines get
    // the identical exact value without an ordered fold. Shape at
    // scale: the bigram/unigram count shuffles, then one partial-agg
    // i64 sum per doc — per-group state is a single long, never an
    // array proportional to document length.
    EngineQuery(
      "text_lm_score",
      (s, dir) => {
        val toks = docs(s, dir).withColumn("toks", expr(toksSpark))
        val b = toks.selectExpr("doc_id",
          "posexplode(transform(sequence(1, greatest(size(toks) - 1, 1)), i -> concat_ws(' ', try_element_at(toks, i), try_element_at(toks, i + 1)))) AS (pos, bigram)")
        val bc = b.groupBy("bigram").agg(count(lit(1)).cast("long").as("c_xy"))
        val uc = toks.select(explode(col("toks")).as("w1"))
          .groupBy("w1").agg(count(lit(1)).cast("long").as("c_w"))
        b.join(bc, "bigram")
          .withColumn("w1", expr("element_at(split(bigram, ' '), 1)"))
          .join(uc, "w1")
          .selectExpr("doc_id", "pos", "CAST(c_xy AS DOUBLE) / c_w AS p")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_bigrams"),
            expr(qsum("p")).as("sp"))
          .selectExpr("doc_id", "n_bigrams",
            "round(sp / n_bigrams, 6) AS fluency")
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS toks FROM documents),
              |b AS (SELECT doc_id,
              |    unnest([i for i in range(1, greatest(len(toks) - 1, 1) + 1)]) AS pos,
              |    unnest([concat_ws(' ', toks[i], toks[i+1])
              |      for i in range(1, greatest(len(toks) - 1, 1) + 1)]) AS bigram
              |  FROM t),
              |bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_xy FROM b GROUP BY bigram),
              |uni AS (SELECT unnest(toks) AS w1 FROM t),
              |uc AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_w FROM uni GROUP BY w1),
              |p AS (SELECT b.doc_id, b.pos, CAST(bc.c_xy AS DOUBLE) / uc.c_w AS p
              |  FROM b JOIN bc USING (bigram)
              |  JOIN uc ON uc.w1 = string_split(b.bigram, ' ')[1]),
              |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              |    ${qsum("p")} AS sp
              |  FROM p GROUP BY doc_id)
              |SELECT doc_id, n_bigrams, round(sp / n_bigrams, 6) AS fluency
              |FROM g""".stripMargin)),

    // Sequence packing: chunk the doc-ordered concatenated token stream
    // into 256-token training sequences via the two-pass distributed
    // prefix sum (SequencePack — no Window, no single-partition
    // exchange). The oracle replays the same packing with the window
    // cumsum DuckDB can afford at oracle scale; SequencePackSpec pins
    // the plan shape (that the naive formulation is NOT what runs).
    EngineQuery(
      "pack_sequences",
      (s, dir) =>
        graft.text.SequencePack.packBins(
          docs(s, dir).withColumn("toks", expr(toksSpark))
            .selectExpr("doc_id", "CAST(size(toks) AS BIGINT) AS n_tokens"),
          "doc_id", "n_tokens", budget = 256L, numParts = 32),
      Some(s"""WITH t AS (SELECT doc_id, CAST(len($toksDuck) AS BIGINT) AS n FROM documents),
              |o AS (SELECT doc_id, n,
              |  COALESCE(CAST(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS start
              |  FROM t)
              |SELECT start // 256 AS bin,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n) AS BIGINT) AS n_tokens,
              |  min(doc_id) AS first_doc,
              |  max(doc_id) AS last_doc
              |FROM o GROUP BY 1""".stripMargin)),

    // Curriculum packing — the composition a pretraining data loader
    // actually runs: the corpus in QUALITY order (best first, doc_id
    // tiebreak), concatenated and cut into fixed token-budget bins, so
    // early training bins hold the highest-quality text. Same two-pass
    // distributed prefix sum as pack_sequences (no Window, no single-
    // partition exchange) — only the total order changes; per-bin
    // quality bounds demonstrate the curriculum property (bin quality
    // is non-increasing). All stats exact integers.
    EngineQuery(
      "pack_curriculum",
      (s, dir) => {
        val d = docs(s, dir)
          .withColumn("toks", expr(toksSpark))
          .selectExpr("doc_id", s"$q10kSpark AS q10k",
            "CAST(size(toks) AS BIGINT) AS n_tokens")
          .withColumn("neg_q", -col("q10k"))
        // withStartOffsets keeps (orderCols, weight, start_off) only —
        // recover the quality from its negated order key.
        graft.text.SequencePack.withStartOffsets(d, Seq("neg_q", "doc_id"), "n_tokens", 32)
          .selectExpr("doc_id", "-neg_q AS q10k", "n_tokens", "start_off DIV 256 AS bin")
          .groupBy("bin")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_tokens").as("n_tokens"),
            max("q10k").as("best_q10k"),
            min("q10k").as("worst_q10k"),
            min("doc_id").as("min_doc"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, $toksDuck AS toks FROM documents),
              |t AS (SELECT doc_id, $q10kDuck AS q10k,
              |    CAST(len(toks) AS BIGINT) AS n FROM tk),
              |o AS (SELECT doc_id, q10k, n,
              |  COALESCE(CAST(sum(n) OVER (ORDER BY q10k DESC, doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS start
              |  FROM t)
              |SELECT start // 256 AS bin,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n) AS BIGINT) AS n_tokens,
              |  CAST(max(q10k) AS BIGINT) AS best_q10k,
              |  CAST(min(q10k) AS BIGINT) AS worst_q10k,
              |  min(doc_id) AS min_doc
              |FROM o GROUP BY 1""".stripMargin)),

    // Distributed ROW_NUMBER over a total order (content hash, doc_id
    // tiebreak): the shuffle-sane dual of `row_number() OVER (ORDER BY
    // ...)`, which Spark would otherwise execute on ONE partition. Same
    // two-pass prefix-sum core as pack_sequences, weight 1.
    EngineQuery(
      "text_global_rank",
      (s, dir) =>
        graft.text.SequencePack.withGlobalRank(
            docs(s, dir).selectExpr(
              "doc_id", s"${hash60Spark("text")} AS content_hash"),
            Seq("content_hash", "doc_id"), numParts = 32)
          .select("doc_id", "content_hash", "global_rank"),
      Some(s"""SELECT doc_id, ${hash60Duck("text")} AS content_hash,
              |  CAST(row_number() OVER (ORDER BY ${hash60Duck("text")}, doc_id) AS BIGINT) AS global_rank
              |FROM documents""".stripMargin)),

    // BM25-family ranked retrieval over the inverted-index shape: tf from
    // one explode+count shuffle (only query-term postings survive the
    // filter), df and corpus stats are tiny broadcast sides, and the
    // per-(doc, term) score joins postings — never the corpus — so the
    // work is proportional to the query terms' posting lists, exactly the
    // property an inverted index gives at 100 TB. Top-k is one
    // TakeOrdered. Cross-engine determinism: idf is kept as the rational
    // odds ((N - df + .5)/(df + .5)) instead of its log — same monotone
    // ranking, no libm in the hash-matched output — and the per-doc score
    // sums its (≤3) term contributions in fixed textual order.
    EngineQuery(
      "text_bm25_topk",
      (s, dir) => {
        val toks = docs(s, dir).selectExpr("doc_id", s"$toksSpark AS toks")
        val dl = toks.selectExpr("doc_id", "CAST(size(toks) AS BIGINT) AS dl")
        val st = dl.agg(
          count(lit(1)).cast("long").as("n_docs"),
          (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
        val tf = toks.select(col("doc_id"), explode(col("toks")).as("term"))
          .filter(col("term").isin(bm25Terms: _*))
          .groupBy("doc_id", "term")
          .agg(count(lit(1)).cast("long").as("tf"))
        val dfreq = tf.groupBy("term")
          .agg(countDistinct("doc_id").cast("long").as("df"))
        val scored = tf
          .join(broadcast(dfreq), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(st))
          .selectExpr("doc_id", "term", s"$bm25ScoreSql AS s")
        val perDoc = scored.groupBy("doc_id").agg(
          bm25Terms.map(t =>
            coalesce(max(when(col("term") === t, col("s"))), lit(0.0)))
            .reduceLeft(_ + _).as("score"))
        // Top-k FIRST as TakeOrderedAndProject (no global shuffle-sort of
        // the candidate set), then rank the 20 survivors — the single
        // -partition window only ever sees k rows.
        val top = perDoc.orderBy(col("score").desc, col("doc_id").asc).limit(20)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id").asc)
        top.withColumn("rank", row_number().over(w))
          .select(col("doc_id"), col("rank"), round(col("score"), 6).as("score"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $toksDuck AS toks FROM documents),
              |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
              |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
              |posting AS (SELECT doc_id, unnest(toks) AS term FROM toks),
              |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              |  FROM posting WHERE term IN (${bm25Terms.map(t => s"'$t'").mkString(", ")})
              |  GROUP BY doc_id, term),
              |dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              |  FROM tf GROUP BY term),
              |scored AS (SELECT tf.doc_id, tf.term, $bm25ScoreSql AS s
              |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
              |perdoc AS (SELECT doc_id,
              |    ${bm25Terms.map(t => s"coalesce(max(CASE WHEN term = '$t' THEN s END), 0.0)").mkString(" + ")} AS score
              |  FROM scored GROUP BY doc_id),
              |r AS (SELECT doc_id, score,
              |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
              |  FROM perdoc)
              |SELECT doc_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
              |FROM r WHERE rank <= 20""".stripMargin)),

    EngineQuery(
      "text_source_rollup",
      (s, dir) =>
        docs(s, dir)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_chars").as("total_chars"),
            round(avg("n_chars"), 4).as("avg_chars"),
            countDistinct("lang").as("n_langs")),
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  round(avg(n_chars), 4) AS avg_chars,
             |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
             |FROM documents GROUP BY source""".stripMargin)),

    // One BPE-training merge step: tokenize with the BPE-ish pre-token
    // regex (same class split as text_stats' token counter), then count
    // adjacent CHARACTER pairs inside each pre-token — the top pair is
    // the merge a byte-pair-encoding trainer would apply next, and the
    // top-k table is the candidate queue. Shape at scale: explode →
    // hash-aggregate with map-side combine (pair domain is bounded by
    // the alphabet², so partial aggregation collapses almost all of the
    // exploded volume before the shuffle); top-k is TakeOrdered. The
    // per-token pair array is cheap to build (substring over short
    // tokens), so the Generate-inlining re-evaluation is harmless here —
    // see TextAnalysis.explodedGramsJvm for the expensive-array variant.
    EngineQuery(
      "text_bpe_pairs",
      (s, dir) =>
        docs(s, dir)
          .selectExpr(s"explode(regexp_extract_all(lower(text), '$bpePattern', 0)) AS tok")
          .filter(length(col("tok")) >= 2)
          .selectExpr("explode(transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))) AS pair")
          .groupBy("pair").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair").asc)
          .limit(20),
      Some("""WITH tk AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS tok
             |  FROM documents),
             |p AS (SELECT substr(tok, CAST(unnest(range(1, CAST(length(tok) AS BIGINT))) AS INT), 2) AS pair
             |  FROM tk WHERE length(tok) >= 2)
             |SELECT pair, CAST(count(*) AS BIGINT) AS n
             |FROM p GROUP BY pair
             |ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin)),

    // Gopher/C4-family repetition quality rules: per doc, the fraction
    // of 2-gram occurrences covered by the single most frequent 2-gram
    // (templated boilerplate) and the duplicate-3-gram fraction
    // (1 - distinct/total — loops and copy-paste). POSITIONAL grams from
    // the JVM dual (the distinct-gram pathology applies here too); one
    // (doc, gram)-keyed count with map-side combine per order, one
    // doc_id rollup, flags decided by INTEGER cross-multiplication
    // (5·max > tot ⟺ frac > 0.2) so no float compare ever runs.
    EngineQuery(
      "text_rep_flags",
      (s, dir) => {
        // Per-doc positional gram stats come from the memoized build
        // (repGramStatsCached) so this query times only the join + final
        // lang rollup — the derivation is itemized as build_text_grams.
        val d2 = repGramStatsCached(s, dir, 2)
        val d3 = repGramStatsCached(s, dir, 3).drop("tag")
        d2.join(d3, "doc_id")
          .groupBy(col("tag").as("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("max2") * 5 > col("tot2"), 1L).otherwise(0L)).as("n_top2_flagged"),
            sum(when((col("tot3") - col("nd3")) * 5 > col("tot3"), 1L).otherwise(0L)).as("n_dup3_flagged"),
            round(sum("max2").cast("double") / sum("tot2"), 6).as("corpus_top2_frac"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, lang, $toksDuck AS toks FROM documents),
              |g2 AS (SELECT doc_id, lang, unnest(${gramsNPosDuck(2)}) AS gram FROM tk),
              |g3 AS (SELECT doc_id, unnest(${gramsNPosDuck(3)}) AS gram FROM tk),
              |c2 AS (SELECT doc_id, lang, count(*) AS c FROM g2 GROUP BY doc_id, lang, gram),
              |c3 AS (SELECT doc_id, count(*) AS c FROM g3 GROUP BY doc_id, gram),
              |d2 AS (SELECT doc_id, lang, sum(c) AS tot2, max(c) AS max2 FROM c2 GROUP BY 1, 2),
              |d3 AS (SELECT doc_id, sum(c) AS tot3, count(*) AS nd3 FROM c3 GROUP BY 1)
              |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(count(CASE WHEN max2 * 5 > tot2 THEN 1 END) AS BIGINT) AS n_top2_flagged,
              |  CAST(count(CASE WHEN (tot3 - nd3) * 5 > tot3 THEN 1 END) AS BIGINT) AS n_dup3_flagged,
              |  round(CAST(sum(max2) AS DOUBLE) / sum(tot2), 6) AS corpus_top2_frac
              |FROM d2 JOIN d3 USING (doc_id)
              |GROUP BY lang""".stripMargin)),

    // PII scrubbing: deterministic synthetic PII (an email and a phone
    // derived from doc_id — the raw corpus is word soup) appended to
    // each document, then redacted with the regex family a real scrubber
    // runs. Partition-local regexp work at any scale (one projection, no
    // shuffle before the rollup); counts and redacted lengths are
    // integers, so the gate pins both the match counts AND the exact
    // byte effect of the replacements in both engines.
    EngineQuery(
      "text_pii_scrub",
      (s, dir) => {
        val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\\\.[a-z]{2,}"
        val phonePat = "\\\\+1-[0-9]{3}-[0-9]{4}"
        docs(s, dir)
          .selectExpr("doc_id", "lang",
            "concat(text, ' contact user', CAST(doc_id AS STRING), '@mail.example.com or +1-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) AS base")
          .selectExpr("lang", "length(base) AS raw_len",
            s"size(regexp_extract_all(base, '$emailPat', 0)) AS n_email",
            s"size(regexp_extract_all(base, '$phonePat', 0)) AS n_phone",
            s"length(regexp_replace(regexp_replace(base, '$emailPat', '<EMAIL>'), '$phonePat', '<PHONE>')) AS scrub_len")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_email").as("emails"),
            sum("n_phone").as("phones"),
            sum("raw_len").as("raw_chars"),
            sum("scrub_len").as("scrub_chars"))
      },
      Some("""WITH b AS (SELECT doc_id, lang,
             |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS base
             |  FROM documents),
             |m AS (SELECT lang, length(base) AS raw_len,
             |    len(regexp_extract_all(base, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
             |    len(regexp_extract_all(base, '\+1-[0-9]{3}-[0-9]{4}')) AS n_phone,
             |    length(regexp_replace(regexp_replace(base, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'), '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrub_len
             |  FROM b)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_email) AS BIGINT) AS emails,
             |  CAST(sum(n_phone) AS BIGINT) AS phones,
             |  CAST(sum(raw_len) AS BIGINT) AS raw_chars,
             |  CAST(sum(scrub_len) AS BIGINT) AS scrub_chars
             |FROM m GROUP BY lang""".stripMargin)),

    // Domain-mixture planning (the DoReMi/Pile-style data-mixing step):
    // given target language weights and a half-corpus token budget,
    // derive per-language available tokens, required tokens, sampling
    // rate and epoch count. One aggregation pass + a broadcast scalar
    // total; ALL arithmetic is integer (weights as percents, required =
    // budget·w DIV 100) except the final display-rounded rate, so the
    // plan is bit-stable cross-engine. Rates > 1 mean up-sampling
    // (epochs > 1) — exactly how low-resource languages are mixed.
    EngineQuery(
      "text_mixture_plan",
      (s, dir) => {
        val weights = "CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 20 WHEN 'de' THEN 15 WHEN 'fr' THEN 10 ELSE 5 END"
        val avail = docs(s, dir)
          .selectExpr("lang", s"CAST(size($toksSpark) AS BIGINT) AS n_tok")
          .groupBy("lang").agg(sum("n_tok").as("avail"))
        val tot = avail.agg(sum("avail").as("total"))
        avail.join(broadcast(tot))
          .selectExpr("lang", "avail", s"$weights AS w", "total DIV 2 AS budget")
          .selectExpr("lang", "avail", "(budget * w) DIV 100 AS required")
          .selectExpr("lang", "avail", "required",
            "round(CAST(required AS DOUBLE) / avail, 6) AS rate",
            "(required + avail - 1) DIV avail AS epochs")
      },
      Some("""WITH a AS (SELECT lang, sum(len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t != ''))) AS avail
             |  FROM documents GROUP BY lang),
             |t AS (SELECT sum(avail) AS total FROM a),
             |p AS (SELECT lang, avail,
             |    ((total // 2) * CASE lang WHEN 'en' THEN 50 WHEN 'es' THEN 20 WHEN 'de' THEN 15 WHEN 'fr' THEN 10 ELSE 5 END) // 100 AS required
             |  FROM a, t)
             |SELECT lang, CAST(avail AS BIGINT) AS avail,
             |  CAST(required AS BIGINT) AS required,
             |  round(CAST(required AS DOUBLE) / avail, 6) AS rate,
             |  CAST((required + avail - 1) // avail AS BIGINT) AS epochs
             |FROM p""".stripMargin)),

    // Winnowing fingerprints (Schleimer et al., the MOSS algorithm): the
    // distinct set of per-window minima over the positional 3-gram hash
    // sequence (window w = 4). Guarantees any shared run ≥ w+n-1 tokens
    // yields at least one shared fingerprint — the partial-overlap
    // detector the single min-hash fingerprint can't provide. Pure
    // per-doc HOF projection (no explode, no shuffle before the rollup);
    // the window-min/distinct runs on a short per-doc array.
    EngineQuery(
      "text_winnow",
      (s, dir) => {
        val h = graft.text.TextAnalysis.hash60Spark("g")
        docs(s, dir)
          .withColumn("toks", expr(toksSpark))
          .selectExpr("doc_id", "lang",
            s"transform(${graft.text.TextAnalysis.gramsNPosSpark(3)}, g -> $h) AS gh")
          .selectExpr("doc_id", "lang",
            "CAST(size(array_distinct(transform(sequence(1, greatest(size(gh) - 3, 1)), j -> array_min(slice(gh, j, 4))))) AS BIGINT) AS n_fp",
            "array_min(gh) AS min_h")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_fp").as("total_fps"),
            min("min_h").as("corpus_min_hash"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, lang, $toksDuck AS toks FROM documents),
              |gh AS (SELECT doc_id, lang,
              |    list_transform(${gramsNPosDuck(3)}, g -> ${graft.text.TextAnalysis.hash60Duck("g")}) AS gh
              |  FROM tk),
              |fp AS (SELECT doc_id, lang,
              |    len(list_distinct([list_min(gh[j:j+3]) for j in range(1, greatest(len(gh) - 3, 1) + 1)])) AS n_fp,
              |    list_min(gh) AS min_h
              |  FROM gh)
              |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_fp) AS BIGINT) AS total_fps,
              |  CAST(min(min_h) AS BIGINT) AS corpus_min_hash
              |FROM fp GROUP BY lang""".stripMargin)),

    // Feature-hashed linear quality scorer (the fastText trick that makes
    // model-based filtering run at corpus scale): every token hashes into
    // 64 buckets, each bucket carries a fixed integer weight, a doc's
    // score is the weight sum — one partition-local projection per doc,
    // NO vocabulary join, no model server. Integer weights keep the
    // fold order-free and the gate exact; a trained float model swaps in
    // by replacing the weight table.
    EngineQuery(
      "text_hashed_features",
      (s, dir) => {
        val bucket = s"${graft.text.TextAnalysis.hash60Spark("t")} % 64"
        docs(s, dir)
          .withColumn("toks", expr(toksSpark))
          .selectExpr("doc_id", "lang",
            s"coalesce(aggregate(toks, CAST(0 AS BIGINT), (acc, t) -> acc + (($bucket) % 7 - 3)), CAST(0 AS BIGINT)) AS score")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_positive"),
            sum("score").as("sum_score"),
            min("score").as("min_score"),
            max("score").as("max_score"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, lang, $toksDuck AS toks FROM documents),
              |sc AS (SELECT doc_id, lang,
              |    coalesce(list_sum(list_transform(toks, t -> (${graft.text.TextAnalysis.hash60Duck("t")} % 64) % 7 - 3)), 0) AS score
              |  FROM tk)
              |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(count(CASE WHEN score > 0 THEN 1 END) AS BIGINT) AS n_positive,
              |  CAST(sum(score) AS BIGINT) AS sum_score,
              |  CAST(min(score) AS BIGINT) AS min_score,
              |  CAST(max(score) AS BIGINT) AS max_score
              |FROM sc GROUP BY lang""".stripMargin)),

    // Classifier calibration bins (reliability diagram): the hashed-
    // feature score bucketed into width-20 bins vs the observed 'en'
    // rate per bin — the check run before trusting a cheap quality/
    // language scorer as a corpus filter. Binning floors an EXACT
    // double division (identical operands both engines), the rate is
    // one integer ratio per bin; work = the same narrow projection as
    // text_hashed_features + a |bins|-row rollup.
    EngineQuery(
      "text_calibration_bins",
      (s, dir) => {
        val bucket = s"${graft.text.TextAnalysis.hash60Spark("t")} % 64"
        docs(s, dir)
          .withColumn("toks", expr(toksSpark))
          .selectExpr(
            "CAST(lang = 'en' AS INT) AS is_en",
            s"coalesce(aggregate(toks, CAST(0 AS BIGINT), (acc, t) -> acc + (($bucket) % 7 - 3)), CAST(0 AS BIGINT)) AS score")
          .selectExpr("is_en",
            "CAST(floor(CAST(score AS DOUBLE) / 20.0) AS BIGINT) AS bin")
          .groupBy("bin")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("is_en").cast("long").as("n_en"),
            (sum("is_en").cast("double") / count(lit(1)).cast("double"))
              .as("en_rate"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, lang, $toksDuck AS toks FROM documents),
              |sc AS (SELECT CAST(lang = 'en' AS INT) AS is_en,
              |    coalesce(list_sum(list_transform(toks, t -> (${graft.text.TextAnalysis.hash60Duck("t")} % 64) % 7 - 3)), 0) AS score
              |  FROM tk),
              |b AS (SELECT is_en,
              |    CAST(floor(CAST(score AS DOUBLE) / 20.0) AS BIGINT) AS bin
              |  FROM sc)
              |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(is_en) AS BIGINT) AS n_en,
              |  CAST(sum(is_en) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS en_rate
              |FROM b GROUP BY bin""".stripMargin)),

    // Quality-aware dedup keep-policy: within each near-dup group (the
    // one-hop min-label over the LSH candidate path, as text_curate),
    // keep the HIGHEST-QUALITY member instead of the smallest id — the
    // policy real curation runs (min-id throws away the best copy).
    // The argmax rides one max_by over a total-ordered integer key
    // (quality at 1e-4 grain · 1e9 + reversed doc_id), so group ties are
    // impossible and the gate is exact; quality sums are integer-grain.
    EngineQuery(
      "dedup_keep_best",
      (s, dir) => {
        val d = docs(s, dir)
        val scored = d.withColumn("toks", expr(toksSpark)).selectExpr(
          "doc_id", "lang",
          s"$qualitySpark AS quality")
        val reps = graft.dedup.Dedup.clusterReps(
          d, DedupQueries.minhashPairsCached(s, dir, 0.8))
        scored.join(reps, Seq("doc_id"))
          .selectExpr("doc_id", "lang", "rep_id",
            "CAST(round(quality * 10000, 0) AS BIGINT) AS q10k")
          .withColumn("ord", col("q10k") * 1000000000L + (lit(999999999L) - col("doc_id")))
          .groupBy("rep_id")
          .agg(
            expr("max_by(doc_id, ord)").as("kept_id"),
            expr("max_by(lang, ord)").as("kept_lang"),
            max("q10k").as("kept_q10k"))
          .groupBy(col("kept_lang").as("lang"))
          .agg(
            count(lit(1)).as("n_groups"),
            sum(when(col("kept_id") =!= col("rep_id"), 1L).otherwise(0L)).as("n_better_than_minid"),
            sum("kept_q10k").as("sum_kept_q10k"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, text, lang, $toksDuck AS toks FROM documents),
              |scored AS (SELECT doc_id, lang,
              |  $q10kDuck AS q10k
              |  FROM tk),
              |g AS (SELECT doc_id, $grams3Duck AS grams FROM tk),
              |${DedupQueries.duckLshPairs(0.8)},
              |nbr AS (SELECT doc_id, min(nb) AS min_nb FROM (
              |    SELECT a_id AS doc_id, b_id AS nb FROM lsh_pairs
              |    UNION ALL SELECT b_id, a_id FROM lsh_pairs) GROUP BY doc_id),
              |reps AS (SELECT d.doc_id, least(d.doc_id, coalesce(min_nb, d.doc_id)) AS rep_id
              |  FROM documents d LEFT JOIN nbr ON d.doc_id = nbr.doc_id),
              |j AS (SELECT s.doc_id, s.lang, r.rep_id, s.q10k,
              |    s.q10k * 1000000000 + (999999999 - s.doc_id) AS ord
              |  FROM scored s JOIN reps r ON s.doc_id = r.doc_id),
              |k AS (SELECT rep_id, arg_max(doc_id, ord) AS kept_id,
              |    arg_max(lang, ord) AS kept_lang, max(q10k) AS kept_q10k
              |  FROM j GROUP BY rep_id)
              |SELECT kept_lang AS lang, CAST(count(*) AS BIGINT) AS n_groups,
              |  CAST(count(CASE WHEN kept_id <> rep_id THEN 1 END) AS BIGINT) AS n_better_than_minid,
              |  CAST(sum(kept_q10k) AS BIGINT) AS sum_kept_q10k
              |FROM k GROUP BY kept_lang""".stripMargin)),

    // RAG-ingestion chunking: fixed-size overlapping token windows
    // (size 32, stride 24 — 8-token overlap) per document, the split a
    // retrieval pipeline runs before embedding. Chunk starts come from
    // one integer sequence per doc (no explode of anything expensive);
    // the rollup pins chunk counts, the double-counted overlap total
    // (sum of chunk lengths − corpus tokens) and the per-doc maximum —
    // all integers.
    // TF-IDF signature terms per source — the corpus-description dual
    // of BM25's per-query retrieval: which terms characterize each
    // source against the rest of the corpus. IDF is the BM25-style
    // RATIONAL form (S − df + ½)/(df + ½) — no ln anywhere (the repo
    // rule: transcendentals differ in ulps across engines; rationals
    // over exact integers and halves are bit-identical). Plan: one
    // (source, term) two-phase count, a sources-containing-term count
    // off that same table, a broadcast of the |vocab|-sized df table,
    // then per-source top-5 via the `topk_by_str` BOUNDED-HEAP
    // aggregate — NOT a window: `source` has ~20 values independent of
    // corpus size while per-source vocabulary grows with it (hapaxes,
    // URLs), so a source-partitioned row_number degenerates to 20
    // single-task sorts of vocab-sized input at scale; the heap keeps
    // per-group state at 5 entries through the ordinary partial-agg
    // path. tf/df ride the heap packed into the key after a U+0001
    // delimiter and are parsed back from the RIGHT (tf/df are digit
    // runs, so the last two delimiter-separated fields are always
    // them) — a pathological token that itself contains U+0001 still
    // round-trips byte-exact instead of crashing the CAST. Tie order:
    // the delimiter sits below every printable token char, so packed
    // order == term ASC for all delimiter-free terms (the one corner —
    // equal-weight terms where one embeds U+0001 — can tie-order by
    // the embedded suffix; the whitespace tokenizer never produces
    // such terms from text that survives unicode cleaning).
    EngineQuery(
      "text_tfidf_terms",
      (s, dir) => {
        val tf = docs(s, dir)
          .selectExpr("source", s"explode($toksSpark) AS term")
          .groupBy("source", "term")
          .agg(count(lit(1)).as("tf"))
        val nSrc = docs(s, dir).agg(countDistinct("source").as("n_src"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfreq), "term")
          .crossJoin(broadcast(nSrc))
          .withColumn("weight",
            col("tf") * (col("n_src") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          .selectExpr("source", "weight",
            "concat(term, '\u0001', CAST(tf AS STRING), '\u0001', CAST(df AS STRING)) AS pk")
          .groupBy("source")
          .agg(expr("topk_by_str(weight, pk, 5)").as("top"))
          .selectExpr("source", "posexplode(top) AS (p0, t)")
          .selectExpr("source", "CAST(p0 + 1 AS INT) AS rank",
            "t.id AS pk", "split(t.id, '\u0001') AS parts", "t.score AS weight")
          .selectExpr("source", "rank",
            "substring(pk, 1, length(pk) - length(element_at(parts, -1)) - length(element_at(parts, -2)) - 2) AS term",
            "CAST(element_at(parts, -2) AS BIGINT) AS tf",
            "CAST(element_at(parts, -1) AS BIGINT) AS df",
            "round(weight, 6) AS weight")
      },
      Some(s"""WITH tf AS (
              |  SELECT source, u.term, CAST(count(*) AS BIGINT) AS tf
              |  FROM (SELECT source, $toksDuck AS toks FROM documents), unnest(toks) AS u(term)
              |  GROUP BY 1, 2),
              |ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_src FROM documents),
              |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
              |sc AS (SELECT source, term, tf, df,
              |    tf * (n_src - df + 0.5) / (df + 0.5) AS weight
              |  FROM tf JOIN dfreq USING (term) CROSS JOIN ns),
              |rk AS (SELECT *, row_number() OVER (
              |    PARTITION BY source ORDER BY weight DESC, term ASC) AS rank FROM sc)
              |SELECT source, rank, term, tf, df, round(weight, 6) AS weight
              |FROM rk WHERE rank <= 5""".stripMargin)),

    // CCNet-style paragraph/boilerplate scrubbing at chunk grain: the
    // corpus is cut into non-overlapping 8-token "paragraphs", a chunk
    // whose text recurs in ≥2 DISTINCT documents is boilerplate, and
    // each doc reports what survives. Scale shape (reworked after the
    // sf1 smoke caught the first cut at 14.6× for 10× data — it built
    // the chunk table TWICE and shuffled it twice through a
    // countDistinct + join-back): ONE chunk pass, aggregated straight
    // to (chunk, doc) grain with map-side combine, then the distinct-
    // doc frequency is a count(*) window over the chunk key — no
    // second scan, no join, and the key is unhex(md5): a fixed 16-byte
    // binary, not raw text and not a 32-char hex string (128 bits
    // because at 10¹² chunks a 64-bit key passes the birthday bound;
    // the window's per-key partition is bounded by docs-per-chunk).
    EngineQuery(
      "text_boilerplate_scrub",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val perDocKey = docs(s, dir)
          .withColumn("toks", expr(toksSpark))
          .selectExpr("doc_id", "source", "toks", "size(toks) AS n")
          .selectExpr("doc_id", "source",
            "transform(sequence(0, greatest(n - 1, 0) div 8), st -> slice(toks, st * 8 + 1, 8)) AS chunks")
          .selectExpr("doc_id", "source", "explode(chunks) AS ch")
          .selectExpr("doc_id", "source",
            "unhex(md5(array_join(ch, ' '))) AS key",
            "CAST(size(ch) AS BIGINT) AS chunk_len")
          .groupBy("key", "doc_id", "source")
          .agg(count(lit(1)).as("reps"), max("chunk_len").as("chunk_len"))
        perDocKey
          .withColumn("nd", count(lit(1)).over(Window.partitionBy("key")))
          .groupBy("doc_id", "source")
          .agg(
            sum("reps").as("n_chunks"),
            sum(when(col("nd") >= 2, col("reps")).otherwise(0L)).as("n_boiler"),
            sum(when(col("nd") < 2, col("chunk_len") * col("reps")).otherwise(0L))
              .as("tokens_kept"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_chunks").as("total_chunks"),
            sum("n_boiler").as("boiler_chunks"),
            sum("tokens_kept").as("tokens_kept"),
            sum(when(col("n_boiler") > 0, 1L).otherwise(0L)).as("docs_affected"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, source, $toksDuck AS toks FROM documents),
              |ch0 AS (SELECT doc_id, source,
              |    [toks[st+1:st+8] for st in range(0, greatest(len(toks), 1), 8)] AS chunks
              |  FROM tk),
              |ch AS (SELECT doc_id, source,
              |    md5(array_to_string(u.ch, ' ')) AS key,
              |    CAST(len(u.ch) AS BIGINT) AS chunk_len
              |  FROM ch0, unnest(chunks) AS u(ch)),
              |freq AS (SELECT key, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1),
              |pd AS (SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_chunks,
              |    CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
              |    CAST(sum(CASE WHEN nd < 2 THEN chunk_len ELSE 0 END) AS BIGINT) AS tokens_kept
              |  FROM ch JOIN freq USING (key) GROUP BY 1, 2)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
              |  CAST(sum(n_boiler) AS BIGINT) AS boiler_chunks,
              |  CAST(sum(tokens_kept) AS BIGINT) AS tokens_kept,
              |  CAST(sum(CASE WHEN n_boiler > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_affected
              |FROM pd GROUP BY 1""".stripMargin)),

    EngineQuery(
      "text_chunking",
      (s, dir) =>
        docs(s, dir)
          .withColumn("toks", expr(toksSpark))
          .selectExpr("doc_id", "lang", "CAST(size(toks) AS BIGINT) AS n")
          .selectExpr("doc_id", "lang", "n",
            "transform(sequence(0, greatest(n, 1) - 1, 24), st -> least(32, n - st)) AS lens")
          .selectExpr("doc_id", "lang", "n",
            "CAST(size(lens) AS BIGINT) AS n_chunks",
            "aggregate(lens, CAST(0 AS BIGINT), (a, x) -> a + x) AS sum_len")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_chunks").as("total_chunks"),
            sum(expr("sum_len - n")).as("overlap_tokens"),
            max("n_chunks").as("max_chunks_per_doc")),
      Some("""WITH tk AS (SELECT doc_id, lang,
             |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t != '')) AS BIGINT) AS n
             |  FROM documents),
             |ch AS (SELECT doc_id, lang, n,
             |    [least(32, n - st) for st in range(0, greatest(n, 1), 24)] AS lens
             |  FROM tk),
             |d AS (SELECT doc_id, lang, n,
             |    CAST(len(lens) AS BIGINT) AS n_chunks,
             |    CAST(list_sum(lens) AS BIGINT) AS sum_len
             |  FROM ch)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
             |  CAST(sum(sum_len - n) AS BIGINT) AS overlap_tokens,
             |  CAST(max(n_chunks) AS BIGINT) AS max_chunks_per_doc
             |FROM d GROUP BY lang""".stripMargin)),

    // The corpus data card in ONE DAG: per (source, lang) — documents,
    // tokens, exact-duplicate docs (md5 groups with >1 member), and the
    // integer-grain mean quality. The composition a dataset release
    // ships next to the data; every stat is an operator this engine
    // gates individually, composed here end-to-end.
    // Mixture EXECUTION (the take to text_mixture_plan's plan): each
    // source contributes its best documents — quality-ranked, doc_id
    // tiebreak — until a fixed per-source token budget is exhausted
    // (whole-doc take: a doc is kept iff it fits entirely). The
    // per-source greedy cumsum rides the two-pass SequencePack prefix
    // sum over the (source-hash, quality-desc, doc_id) total order —
    // within-source offsets fall out by subtracting each source's first
    // global offset (one #sources-row broadcast join) — so there is no
    // per-source ordered Window to serialize a 100 TB source into one
    // task.
    EngineQuery(
      "text_mixture_take",
      (s, dir) => {
        val t = docs(s, dir).withColumn("toks", expr(toksSpark)).selectExpr(
          "doc_id", "source",
          s"${hash60Spark("source")} AS src_key",
          s"10000 - $q10kSpark AS negq",
          "CAST(size(toks) AS BIGINT) AS n_toks")
        val off = graft.text.SequencePack.withStartOffsets(
          t, Seq("src_key", "negq", "doc_id"), "n_toks", numParts = 32,
          keepCols = Seq("source"))
        val base = off.groupBy("source").agg(min("start_off").as("src_start"))
        off.join(broadcast(base), Seq("source"))
          .withColumn("kept",
            col("start_off") - col("src_start") + col("n_toks") <= lit(600L))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("kept"), col("n_toks")).otherwise(0L)).as("tokens_kept"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, source, $toksDuck AS toks FROM documents),
              |d AS (SELECT doc_id, source,
              |    CAST(len(toks) AS BIGINT) AS n_toks,
              |    10000 - $q10kDuck AS negq
              |  FROM tk),
              |o AS (SELECT source, n_toks,
              |    COALESCE(CAST(sum(n_toks) OVER (PARTITION BY source
              |      ORDER BY negq, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS loc
              |  FROM d)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(count(CASE WHEN loc + n_toks <= 600 THEN 1 END) AS BIGINT) AS n_kept,
              |  CAST(COALESCE(sum(CASE WHEN loc + n_toks <= 600 THEN n_toks END), 0) AS BIGINT) AS tokens_kept
              |FROM o GROUP BY source""".stripMargin)),

    EngineQuery(
      "pipeline_datacard",
      (s, dir) => {
        val d = docs(s, dir).withColumn("toks", expr(toksSpark))
          .selectExpr("doc_id", "source", "lang", "md5(text) AS h",
            "CAST(size(toks) AS BIGINT) AS n_tok",
            s"$q10kSpark AS q10k")
        val dupes = d.groupBy("h").agg(count(lit(1)).as("n_same"))
        d.join(dupes, "h")
          .groupBy("source", "lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_tok").as("n_tokens"),
            sum(when(col("n_same") > 1, 1L).otherwise(0L)).as("n_exact_dup"),
            round(sum("q10k").cast("double") / count(lit(1)) / 10000.0, 6)
              .as("mean_quality"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, source, lang, md5(text) AS h, $toksDuck AS toks FROM documents),
              |d AS (SELECT doc_id, source, lang, h,
              |    CAST(len(toks) AS BIGINT) AS n_tok,
              |    $q10kDuck AS q10k
              |  FROM tk),
              |dup AS (SELECT h, count(*) AS n_same FROM d GROUP BY h)
              |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              |  CAST(count(CASE WHEN n_same > 1 THEN 1 END) AS BIGINT) AS n_exact_dup,
              |  round(CAST(sum(q10k) AS DOUBLE) / count(*) / 10000.0, 6) AS mean_quality
              |FROM d JOIN dup USING (h)
              |GROUP BY source, lang""".stripMargin)),

    // Exact repeated-span detection — the token-granular shape of
    // ExactSubstr dedup ("Deduplicating Training Data Makes Language
    // Models Better", Lee et al. 2022 §4.1): every positional 8-token
    // gram is hashed; a gram occurring more than once ANYWHERE in the
    // corpus marks its 8-token span as duplicated text. Per document:
    // gram count, duplicated-gram count, the EXACT interval-union size
    // of the duplicated spans, and the duplicated fraction (the signal
    // ExactSubstr cuts at 0.x). Equal-length sorted intervals make the
    // union trivial — covered = Σ min(k, pos − prev_pos) over one lag
    // window, no fold, all integers. Scale shape: ONE gram-hash-keyed
    // count shuffle + one doc-keyed window; the suffix array's
    // repeated-substring functionality at n-gram granularity with
    // shuffle-sized (not corpus-sized) state.
    EngineQuery(
      "text_dup_spans",
      (s, dir) => {
        val k = 8
        val t = docs(s, dir).withColumn("toks", expr(toksSpark))
          .selectExpr("doc_id", "toks", "CAST(size(toks) AS INT) AS n")
        val g = t.where(col("n") >= k).selectExpr("doc_id",
            s"posexplode(transform(sequence(1, n - ${k - 1}), i -> ${hash60Spark(s"concat_ws(' ', slice(toks, i, $k))")})) AS (p0, gh)")
          .selectExpr("doc_id", "p0 + 1 AS pos", "gh")
        val gc = g.groupBy("gh").agg(count(lit(1)).as("c"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val perDoc = g.join(gc.where(col("c") > 1), "gh")
          .withColumn("prev", lag(col("pos"), 1).over(w))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("nd"),
            sum(when(col("prev").isNull, lit(k))
              .otherwise(least(lit(k), col("pos") - col("prev")))).as("cov"))
        t.join(perDoc, Seq("doc_id"), "left")
          .selectExpr("doc_id", "CAST(n AS BIGINT) AS n_tokens",
            s"CAST(greatest(n - ${k - 1}, 0) AS BIGINT) AS n_grams",
            "CAST(coalesce(nd, 0) AS BIGINT) AS n_dup_grams",
            "CAST(coalesce(cov, 0) AS BIGINT) AS covered_tokens",
            "round(CAST(coalesce(cov, 0) AS DOUBLE) / greatest(n, 1), 6) AS dup_frac")
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksDuck AS toks FROM documents),
              |tt AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS n FROM t),
              |gr AS (SELECT doc_id,
              |    unnest(range(1, n - 6)) AS pos,
              |    unnest([${hash60Duck("array_to_string(toks[i:i+7], ' ')")}
              |      for i in range(1, n - 6)]) AS gh
              |  FROM tt WHERE n >= 8),
              |gc AS (SELECT gh, count(*) AS c FROM gr GROUP BY gh),
              |cov AS (SELECT doc_id, pos,
              |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
              |  FROM gr JOIN gc USING (gh) WHERE c > 1),
              |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nd,
              |    sum(CASE WHEN prev IS NULL THEN 8 ELSE least(8, pos - prev) END) AS cov
              |  FROM cov GROUP BY doc_id)
              |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
              |  CAST(greatest(n - 7, 0) AS BIGINT) AS n_grams,
              |  CAST(COALESCE(nd, 0) AS BIGINT) AS n_dup_grams,
              |  CAST(COALESCE(cov, 0) AS BIGINT) AS covered_tokens,
              |  round(CAST(COALESCE(cov, 0) AS DOUBLE) / greatest(n, 1), 6) AS dup_frac
              |FROM tt LEFT JOIN pd USING (doc_id)""".stripMargin)),

    // DSIR-shaped importance selection (Data Selection via Importance
    // Resampling, Xie et al. 2023): hashed unigram features (256
    // buckets); target distribution = the 'en' slice, raw = the rest;
    // per-feature importance ratio with Laplace smoothing
    //   r_f = (ct_f + 1)(Nr + 256) / ((cr_f + 1)(Nt + 256))
    // computed as double products in a FIXED order. The per-occurrence
    // log importance is replaced by the rational odds surrogate
    // (r − 1)/(r + 1) — monotone in r, pure IEEE arithmetic, so the
    // oracle replays it bitwise (the same trick as the rational PMI;
    // ln() is the one operation the two engines round differently).
    // Per-doc scoring is BUCKET-COLLAPSED like text_nb_classify:
    // score = Σ_f cf·w(f) folded in BUCKET order over the doc's ≤256
    // occupied buckets (the r10 sf1 smoke caught the per-token fold
    // spilling at 10×; per-doc state is now bounded by the model size,
    // never document length). Top 50 by importance, doc_id tiebreak.
    // Scale shape: feature model = 256-row broadcast; corpus side = one
    // (doc, f) count shuffle + a ≤256-element fold + a top-k sort.
    EngineQuery(
      "text_dsir_select",
      (s, dir) => {
        val B = 256
        val e = docs(s, dir).withColumn("toks", expr(toksSpark))
          .selectExpr("doc_id", "lang", "explode(toks) AS tok")
          .selectExpr("doc_id", "lang",
            s"${hash60Spark("tok")} % $B AS f")
        val counts = e.groupBy("f").agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
          sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cr"))
        val tot = counts.agg(sum("ct").as("nt"), sum("cr").as("nr"))
        val weights = counts.crossJoin(broadcast(tot))
          .selectExpr("f",
            s"""CAST(ct + 1 AS DOUBLE) * CAST(nr + $B AS DOUBLE)
               | / (CAST(cr + 1 AS DOUBLE) * CAST(nt + $B AS DOUBLE)) AS r""".stripMargin)
          .selectExpr("f",
            "(r - CAST(1.0 AS DOUBLE)) / (r + CAST(1.0 AS DOUBLE)) AS w")
        e.groupBy("doc_id", "lang", "f")
          .agg(count(lit(1)).cast("long").as("cf"))
          .join(broadcast(weights), "f")
          .groupBy("doc_id", "lang")
          .agg(sum("cf").cast("long").as("n_toks"),
            expr(qsum("CAST(cf AS DOUBLE) * w")).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(50)
          .selectExpr("doc_id", "lang", "n_toks", "round(score, 6) AS score")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, $toksDuck AS toks FROM documents),
              |e AS (SELECT doc_id, lang,
              |    unnest([${hash60Duck("tok")} % 256 for tok in toks]) AS f
              |  FROM t),
              |c AS (SELECT f,
              |    CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS ct,
              |    CAST(count(CASE WHEN lang <> 'en' THEN 1 END) AS BIGINT) AS cr
              |  FROM e GROUP BY f),
              |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
              |    CAST(sum(cr) AS BIGINT) AS nr FROM c),
              |w AS (SELECT f,
              |    (r - CAST(1.0 AS DOUBLE)) / (r + CAST(1.0 AS DOUBLE)) AS w
              |  FROM (SELECT f, CAST(ct + 1 AS DOUBLE) * CAST(nr + 256 AS DOUBLE)
              |      / (CAST(cr + 1 AS DOUBLE) * CAST(nt + 256 AS DOUBLE)) AS r
              |    FROM c, tot)),
              |df AS (SELECT doc_id, lang, f, CAST(count(*) AS BIGINT) AS cf
              |  FROM e GROUP BY doc_id, lang, f),
              |sc AS (SELECT doc_id, lang, CAST(sum(cf) AS BIGINT) AS n_toks,
              |    ${qsum("CAST(cf AS DOUBLE) * w")} AS score
              |  FROM df JOIN w USING (f) GROUP BY doc_id, lang)
              |SELECT doc_id, lang, n_toks, round(score, 6) AS score
              |FROM sc ORDER BY sc.score DESC, doc_id LIMIT 50""".stripMargin)),

    // CCNet-shaped LM quality scoring (Wenzek et al. 2020): a stupid-
    // backoff bigram model (Brants et al. 2007) trained on the 'en'
    // slice scores EVERY document. Per adjacent token pair:
    //   p = c(w1 w2)/c(w1) if the bigram was seen in training,
    //       else 0.4·(c(w2)+1)/(N+65536)   (smoothed unigram backoff).
    // The per-token log-prob is replaced by the rational odds surrogate
    // (p−1)/(p+1) — monotone in p, pure IEEE arithmetic in a fixed
    // order, so the oracle replays it bitwise (ln() is the one op the
    // two engines round differently; same trick as the PMI and DSIR
    // queries) — folded per document in position order and normalized
    // by bigram count. Low score = out-of-LM-domain text, the CCNet
    // head/middle/tail signal. Scale shape: the bigram model is
    // CORPUS-sized, so it is shuffle-joined on its gram key (never
    // broadcast, never collected); the unigram model joins the same
    // way; scoring is one doc-keyed fold. Three hash joins + one fold
    // shuffle total, all partial-aggregated map-side.
    EngineQuery(
      "text_ccnet_lm",
      (s, dir) => ccnetScoresCached(s, dir),
      Some(s"""WITH $ccnetDuckChain
              |SELECT doc_id, lang, n_bigrams, n_hits, lm_score FROM perdoc""".stripMargin)),

    // CCNet's head/middle/tail bucketing (Wenzek et al. 2020 §4.3):
    // per LANGUAGE, rank every scored document by LM score and cut into
    // terciles (best third = 'head' — the slice CCNet keeps by default).
    // NOT a lang-partitioned ntile window: `lang` is an enumerable
    // constant key (5 values), so that window would sort N/5 doc rows in
    // ONE task at any scale. Instead ExactNtile finds the two tercile
    // boundary ROWS per language via distributed selection (histogram →
    // boundary-bin refinement) and broadcast-buckets by comparison, with
    // the doc_id tiebreak preserving exact ntile semantics — same oracle
    // hash, no constant-partition sort.
    EngineQuery(
      "text_ccnet_buckets",
      (s, dir) => {
        graft.ops.ExactNtile.withTile(
            ccnetScoresCached(s, dir), "lang", "lm_score", "doc_id",
            tiles = 3, tileCol = "b")
          .groupBy(col("lang"),
            expr("CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END").as("bucket"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum("n_bigrams").cast("long").as("n_bigrams"),
            min("lm_score").as("min_score"),
            max("lm_score").as("max_score"))
      },
      Some(s"""WITH $ccnetDuckChain,
              |nb AS (SELECT *, ntile(3) OVER (PARTITION BY lang ORDER BY lm_score DESC, doc_id) AS b
              |  FROM perdoc)
              |SELECT lang,
              |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
              |  min(lm_score) AS min_score, max(lm_score) AS max_score
              |FROM nb GROUP BY 1, 2""".stripMargin)),

    // FineWeb-style per-domain cap (Penedo et al. 2024): keep at most
    // K = 10 documents per source, best-quality-first (integer-grain
    // q10k, doc_id tiebreak — no float ties), and report the per-source
    // admission tally. The cap only needs each source's K best rows,
    // never the full order, so it rides the bounded-heap `topk_by` in
    // ONE aggregation pass (r12 de-weak — the former source-partitioned
    // row_number sorted every doc of a source in one task; `source` is
    // a ~20-value constant, so that never parallelizes). q10k ≤ 10⁴ is
    // exact as the heap's double score; all tallies derive from the
    // ≤K-entry array (heap arrays come out (score desc, id) — the k-th
    // entry IS the admission floor).
    EngineQuery(
      "text_domain_cap",
      (s, dir) => {
        val k = 10
        docs(s, dir).withColumn("toks", expr(toksSpark))
          .selectExpr("doc_id", "source", s"$q10kSpark AS q10k")
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            expr(s"topk_by(CAST(q10k AS DOUBLE), -doc_id, $k)").as("top"))
          .selectExpr("source", "n_docs",
            "CAST(size(top) AS BIGINT) AS n_kept",
            "CAST(aggregate(top, CAST(0 AS BIGINT), (a, e) -> a + CAST(e.score AS BIGINT)) AS BIGINT) AS kept_q10k",
            "CAST(element_at(top, size(top)).score AS BIGINT) AS kept_q10k_floor")
      },
      Some(s"""WITH t AS (SELECT doc_id, source, $toksDuck AS toks FROM documents),
              |r AS (SELECT doc_id, source, $q10kDuck AS q10k,
              |    row_number() OVER (PARTITION BY source ORDER BY $q10kDuck DESC, doc_id) AS rk
              |  FROM t)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(count(CASE WHEN rk <= 10 THEN 1 END) AS BIGINT) AS n_kept,
              |  CAST(COALESCE(sum(CASE WHEN rk <= 10 THEN q10k END), 0) AS BIGINT) AS kept_q10k,
              |  CAST(min(CASE WHEN rk <= 10 THEN q10k END) AS BIGINT) AS kept_q10k_floor
              |FROM r GROUP BY source""".stripMargin)),

    // Distributed BPE tokenizer training (Sennrich et al. 2016): learn
    // the first 8 merges over word TYPES weighted by corpus frequency.
    // Each round: count adjacent symbol pairs (one vocab-sized shuffle,
    // partial-aggregated map-side), pick the argmax pair (count DESC,
    // then lexicographic — no ties possible), apply it greedily
    // left-to-right. The merge application is a plain string replace on
    // the space-delimited symbol line (' a b ' → ' ab '): SQL replace()
    // is left-to-right non-overlapping in BOTH engines, which IS the
    // greedy BPE scan, so the oracle replays every round as a chained
    // CTE. State ∝ vocabulary (never corpus): at 100 TB the word-freq
    // table is the only corpus-sized pass; the 8 iterations then run
    // over type counts with a 1-row collect each — the same bounded-
    // collect shape as the k-means step. Output: the merge table.
    EngineQuery(
      "text_bpe_merges",
      (s, dir) => {
        val ss = s
        import ss.implicits._
        bpeChainCached(s, dir)._1.toDF("step", "lhs", "rhs", "pair_count")
      },
      Some {
        val union = (1 to bpeSteps)
          .map(i => s"SELECT CAST($i AS BIGINT) AS step, a AS lhs, b AS rhs, c AS pair_count FROM m$i")
          .mkString("\nUNION ALL\n")
        s"""WITH $bpeDuckChain
           |$union""".stripMargin
      }),

    // The APPLY side of BPE training: the per-step corpus compression
    // trajectory. After each learned merge, corpus_tokens =
    // Σ freq·|symbols(word)| over the weighted vocabulary — step 0 is
    // the character baseline, step 8 the trained tokenizer's footprint;
    // the whole 9-row trajectory is gated, which pins every
    // intermediate state of the learner, not just the merge table.
    // Cost: 9 one-row aggregates over the persisted vocab (narrow), no
    // corpus-sized work beyond the shared word-frequency pass.
    EngineQuery(
      "text_bpe_apply",
      (s, dir) => {
        val states = bpeChainCached(s, dir)._2
        states.zipWithIndex.map { case (w, i) =>
          w.selectExpr("CAST(size(filter(split(sym, ' '), x -> x != '')) AS BIGINT) AS n", "freq")
            .agg(sum(expr("freq * n")).cast("long").as("corpus_tokens"))
            .selectExpr(s"CAST($i AS BIGINT) AS step", "corpus_tokens")
        }.reduce(_ union _)
      },
      Some {
        val union = (0 to bpeSteps).map(i =>
          s"""SELECT CAST($i AS BIGINT) AS step,
             |  CAST(sum(freq * len(list_filter(string_split(sym, ' '), x -> x <> ''))) AS BIGINT) AS corpus_tokens
             |FROM w$i""".stripMargin)
          .mkString("\nUNION ALL\n")
        s"""WITH $bpeDuckChain
           |$union""".stripMargin
      }),

    // Hashed-feature multinomial Naive Bayes language classifier — the
    // fastText-shaped supervised path: FIT on the deterministic 'train'
    // split only, APPLY to every document, report the 5×5 confusion
    // matrix. Features are 64 hash buckets; per class the bucket weight
    // is the Laplace likelihood ratio vs uniform r = 64·(c_f+1)/(N_c+64)
    // through the rational odds surrogate (pure IEEE, no ln — the
    // PMI/DSIR/CCNet trick). Scoring is BUCKET-COLLAPSED: per-doc
    // bucket counts first (one shuffle of ≤64 rows per doc), then
    // score_c = Σ_f cf·w_c(f) folded in BUCKET order — a ≤64-element
    // fold per doc instead of a per-token list (the r10 sf1 smoke
    // caught the token-length fold spilling at 10×; this is the fix),
    // bit-replayable because the fold order is the bucket id. Argmax by
    // fixed preference order. Scale shape: model = 64×5 broadcast;
    // per-doc state bounded by the MODEL size, never document length.
    EngineQuery(
      "text_nb_classify",
      (s, dir) => {
        val B = 64
        val langs = Seq("en", "es", "de", "fr", "zh")
        val e = docs(s, dir).withColumn("toks", expr(toksSpark))
          .selectExpr("doc_id", "lang", s"${splitSpark("doc_id")} AS split",
            "explode(toks) AS tok")
          .selectExpr("doc_id", "lang", "split",
            s"${hash60Spark("tok")} % $B AS f")
        val cntCols = langs.map(l =>
          sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"c_$l"))
        val cnt = e.where(col("split") === "train").groupBy("f")
          .agg(cntCols.head, cntCols.tail: _*)
        val full = s.range(B).selectExpr("CAST(id AS BIGINT) AS f")
          .join(cnt, Seq("f"), "left")
          .selectExpr("f" +: langs.map(l => s"coalesce(c_$l, 0) AS c_$l"): _*)
        val totCols = langs.map(l => sum(s"c_$l").as(s"n_$l"))
        val tot = full.groupBy().agg(totCols.head, totCols.tail: _*)
        val weights = full.crossJoin(broadcast(tot))
          .selectExpr("f" +: langs.map(l =>
            s"""((CAST($B * (c_$l + 1) AS DOUBLE) / CAST(n_$l + $B AS DOUBLE)) - CAST(1.0 AS DOUBLE))
               | / ((CAST($B * (c_$l + 1) AS DOUBLE) / CAST(n_$l + $B AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS s_$l""".stripMargin.replace("\n", "")): _*)
        val docF = e.groupBy("doc_id", "lang", "f")
          .agg(count(lit(1)).cast("long").as("cf"))
        val scoreAggs = langs.map(l =>
          expr(qsum(s"CAST(cf AS DOUBLE) * s_$l")).as(s"sc_$l"))
        val scored = docF.join(broadcast(weights), "f")
          .groupBy("doc_id", "lang")
          .agg(scoreAggs.head, scoreAggs.tail: _*)
        scored.selectExpr("lang",
            """CASE WHEN sc_en >= greatest(sc_es, sc_de, sc_fr, sc_zh) THEN 'en'
              |     WHEN sc_es >= greatest(sc_de, sc_fr, sc_zh) THEN 'es'
              |     WHEN sc_de >= greatest(sc_fr, sc_zh) THEN 'de'
              |     WHEN sc_fr >= sc_zh THEN 'fr'
              |     ELSE 'zh' END AS predicted""".stripMargin.replace("\n", " "))
          .groupBy("lang", "predicted")
          .agg(count(lit(1)).cast("long").as("n_docs"))
      },
      Some {
        val B = 64
        val langs = Seq("en", "es", "de", "fr", "zh")
        val ccols = langs.map(l =>
          s"CAST(count(CASE WHEN lang = '$l' THEN 1 END) AS BIGINT) AS c_$l").mkString(",\n    ")
        val fullCols = langs.map(l => s"COALESCE(c_$l, 0) AS c_$l").mkString(", ")
        val ncols = langs.map(l => s"CAST(sum(c_$l) AS BIGINT) AS n_$l").mkString(", ")
        val wcols = langs.map(l =>
          s"""((CAST($B * (c_$l + 1) AS DOUBLE) / CAST(n_$l + $B AS DOUBLE)) - CAST(1.0 AS DOUBLE)) / ((CAST($B * (c_$l + 1) AS DOUBLE) / CAST(n_$l + $B AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS s_$l""").mkString(",\n    ")
        val scols = langs.map(l =>
          s"${qsum(s"CAST(cf AS DOUBLE) * s_$l")} AS sc_$l").mkString(",\n    ")
        s"""WITH t AS (SELECT doc_id, lang, ${splitDuck("doc_id")} AS split, $toksDuck AS toks FROM documents),
           |e AS (SELECT doc_id, lang, split,
           |    unnest([${hash60Duck("tok")} % $B for tok in toks]) AS f
           |  FROM t),
           |cnt AS (SELECT f,
           |    $ccols
           |  FROM e WHERE split = 'train' GROUP BY f),
           |fm AS (SELECT CAST(range AS BIGINT) AS f, $fullCols
           |  FROM range($B) LEFT JOIN cnt ON CAST(range AS BIGINT) = cnt.f),
           |tot AS (SELECT $ncols FROM fm),
           |w AS (SELECT f,
           |    $wcols
           |  FROM fm, tot),
           |df AS (SELECT doc_id, lang, f, CAST(count(*) AS BIGINT) AS cf
           |  FROM e GROUP BY doc_id, lang, f),
           |sc AS (SELECT doc_id, lang,
           |    $scols
           |  FROM df JOIN w USING (f) GROUP BY doc_id, lang),
           |pr AS (SELECT lang,
           |    CASE WHEN sc_en >= greatest(sc_es, sc_de, sc_fr, sc_zh) THEN 'en'
           |         WHEN sc_es >= greatest(sc_de, sc_fr, sc_zh) THEN 'es'
           |         WHEN sc_de >= greatest(sc_fr, sc_zh) THEN 'de'
           |         WHEN sc_fr >= sc_zh THEN 'fr'
           |         ELSE 'zh' END AS predicted
           |  FROM sc)
           |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n_docs
           |FROM pr GROUP BY lang, predicted""".stripMargin
      }),

    // NB classifier with a DOCUMENT-FREQUENCY FLOOR (r14 directive 4)
    // — the vocab-bounding tier of text_nb_classify. The yardstick
    // hashes EVERY token instance through md5 at both fit and apply
    // time, so per-instance cost tracks the raw token stream and, on a
    // Heaps-growing vocabulary, the hashing stage dominated at sf10
    // (18.4× for 10× data). Standard NB practice bounds the model at
    // the vocabulary head instead: tokens seen in ≥ dfFloor TRAIN
    // documents keep their hashed bucket; everything below collapses
    // to one OOV bucket. The md5 then runs once per HEAD-VOCAB TYPE
    // (a train-split distinct, Zipf-truncated), and the corpus-sized
    // apply pass becomes a broadcast hash-probe per token — codegen'd
    // join lookup, no per-instance digest. Deterministic and
    // oracle-replayable end-to-end: the floor is an integer count
    // predicate, the head map is hash-of-token, and the 65-bucket
    // (64 head + OOV) Laplace/odds algebra is the yardstick's with
    // B = 65. Scale contract: the probe side is the HEAD VOCAB, and
    // the join carries no broadcast hint — AQE broadcasts it at every
    // sane floor and degrades to a shuffle join if df ≥ floor on a
    // 100 TB corpus still leaves a vocab too wide to hold whole (the
    // mechanical fallback, not prose); per-doc state stays ≤ 65
    // buckets.
    EngineQuery(
      "text_nb_classify_df",
      (s, dir) => {
        val B = 64       // head buckets; OOV = B → B+1 model rows
        val NB = B + 1
        val dfFloor = 3
        val langs = Seq("en", "es", "de", "fr", "zh")
        // Tokenization-sharing NOTE (r15 directive 2, closed with
        // measurements AGAINST the change): the exploded token stream
        // feeds both the train-split vocab pass and the apply-pass
        // probe, so this spelling tokenizes the corpus twice. Both
        // single-pass variants were implemented and measured SLOWER:
        // persisting the instance stream (sf1 8.6->17.0 s, sf10
        // ~71 (env-adj) ->108 s — columnar-caching one row per token
        // instance costs more than the tokenize it saves) and
        // reducing to persisted per-(doc, token) counts first (sf1
        // 15.2 s — the pair shuffle + cache still outweighs a rescan).
        // The codegen'd tokenize over a column-pruned parquet scan is
        // the CHEAP stage here; the double pass is the measured
        // optimum on page-cached local storage. On a remote-storage
        // 100 TB corpus the balance can flip, and the count-first
        // variant (BASELINE.md r16) would be worth measuring there.
        val e = docs(s, dir).withColumn("toks", expr(toksSpark))
          .selectExpr("doc_id", "lang", s"${splitSpark("doc_id")} AS split",
            "explode(toks) AS tok")
        val vocab = e.where(col("split") === "train")
          .select("tok", "doc_id").distinct()
          .groupBy("tok").agg(count(lit(1)).as("df"))
          .filter(col("df") >= dfFloor)
          .selectExpr("tok", s"${hash60Spark("tok")} % $B AS f")
        // No broadcast HINT on the head-vocab probe: AQE picks the
        // join strategy from the vocab's ACTUAL runtime size —
        // broadcast at every sane floor (the hash-probe fast path),
        // degrading to a shuffle join only when df >= floor still
        // leaves a vocab no JVM should hold whole (the documented
        // 100 TB fallback, mechanical instead of prose — same dispatch
        // philosophy as the centroid broadcast bound).
        val ef = e.join(vocab, Seq("tok"), "left")
          .selectExpr("doc_id", "lang", "split",
            s"coalesce(f, CAST($B AS BIGINT)) AS f",
            "CAST(1 AS BIGINT) AS cnt")
        val cntCols = langs.map(l =>
          sum(when(col("lang") === l, col("cnt")).otherwise(0L)).as(s"c_$l"))
        val cnt = ef.where(col("split") === "train").groupBy("f")
          .agg(cntCols.head, cntCols.tail: _*)
        val full = s.range(NB).selectExpr("CAST(id AS BIGINT) AS f")
          .join(cnt, Seq("f"), "left")
          .selectExpr("f" +: langs.map(l => s"coalesce(c_$l, 0) AS c_$l"): _*)
        val totCols = langs.map(l => sum(s"c_$l").as(s"n_$l"))
        val tot = full.groupBy().agg(totCols.head, totCols.tail: _*)
        val weights = full.crossJoin(broadcast(tot))
          .selectExpr("f" +: langs.map(l =>
            s"""((CAST($NB * (c_$l + 1) AS DOUBLE) / CAST(n_$l + $NB AS DOUBLE)) - CAST(1.0 AS DOUBLE))
               | / ((CAST($NB * (c_$l + 1) AS DOUBLE) / CAST(n_$l + $NB AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS s_$l""".stripMargin.replace("\n", "")): _*)
        val docF = ef.groupBy("doc_id", "lang", "f")
          .agg(sum("cnt").cast("long").as("cf"))
        val scoreAggs = langs.map(l =>
          expr(qsum(s"CAST(cf AS DOUBLE) * s_$l")).as(s"sc_$l"))
        val scored = docF.join(broadcast(weights), "f")
          .groupBy("doc_id", "lang")
          .agg(scoreAggs.head, scoreAggs.tail: _*)
        scored.selectExpr("lang",
            """CASE WHEN sc_en >= greatest(sc_es, sc_de, sc_fr, sc_zh) THEN 'en'
              |     WHEN sc_es >= greatest(sc_de, sc_fr, sc_zh) THEN 'es'
              |     WHEN sc_de >= greatest(sc_fr, sc_zh) THEN 'de'
              |     WHEN sc_fr >= sc_zh THEN 'fr'
              |     ELSE 'zh' END AS predicted""".stripMargin.replace("\n", " "))
          .groupBy("lang", "predicted")
          .agg(count(lit(1)).cast("long").as("n_docs"))
      },
      Some {
        val B = 64
        val NB = B + 1
        val langs = Seq("en", "es", "de", "fr", "zh")
        val ccols = langs.map(l =>
          s"CAST(count(CASE WHEN lang = '$l' THEN 1 END) AS BIGINT) AS c_$l").mkString(",\n    ")
        val fullCols = langs.map(l => s"COALESCE(c_$l, 0) AS c_$l").mkString(", ")
        val ncols = langs.map(l => s"CAST(sum(c_$l) AS BIGINT) AS n_$l").mkString(", ")
        val wcols = langs.map(l =>
          s"""((CAST($NB * (c_$l + 1) AS DOUBLE) / CAST(n_$l + $NB AS DOUBLE)) - CAST(1.0 AS DOUBLE)) / ((CAST($NB * (c_$l + 1) AS DOUBLE) / CAST(n_$l + $NB AS DOUBLE)) + CAST(1.0 AS DOUBLE)) AS s_$l""").mkString(",\n    ")
        val scols = langs.map(l =>
          s"${qsum(s"CAST(cf AS DOUBLE) * s_$l")} AS sc_$l").mkString(",\n    ")
        s"""WITH t AS (SELECT doc_id, lang, ${splitDuck("doc_id")} AS split, $toksDuck AS toks FROM documents),
           |e AS (SELECT doc_id, lang, split, unnest(toks) AS tok FROM t),
           |v AS (SELECT tok FROM (
           |    SELECT tok, count(DISTINCT doc_id) AS df
           |    FROM e WHERE split = 'train' GROUP BY tok) WHERE df >= 3),
           |vf AS (SELECT tok, ${hash60Duck("tok")} % $B AS f FROM v),
           |ef AS (SELECT e.doc_id, e.lang, e.split, COALESCE(vf.f, $B) AS f
           |  FROM e LEFT JOIN vf USING (tok)),
           |cnt AS (SELECT f,
           |    $ccols
           |  FROM ef WHERE split = 'train' GROUP BY f),
           |fm AS (SELECT CAST(range AS BIGINT) AS f, $fullCols
           |  FROM range($NB) LEFT JOIN cnt ON CAST(range AS BIGINT) = cnt.f),
           |tot AS (SELECT $ncols FROM fm),
           |w AS (SELECT f,
           |    $wcols
           |  FROM fm, tot),
           |df AS (SELECT doc_id, lang, f, CAST(count(*) AS BIGINT) AS cf
           |  FROM ef GROUP BY doc_id, lang, f),
           |sc AS (SELECT doc_id, lang,
           |    $scols
           |  FROM df JOIN w USING (f) GROUP BY doc_id, lang),
           |pr AS (SELECT lang,
           |    CASE WHEN sc_en >= greatest(sc_es, sc_de, sc_fr, sc_zh) THEN 'en'
           |         WHEN sc_es >= greatest(sc_de, sc_fr, sc_zh) THEN 'es'
           |         WHEN sc_de >= greatest(sc_fr, sc_zh) THEN 'de'
           |         WHEN sc_fr >= sc_zh THEN 'fr'
           |         ELSE 'zh' END AS predicted
           |  FROM sc)
           |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n_docs
           |FROM pr GROUP BY lang, predicted""".stripMargin
      }),

    // Gopher quality-filter ruleset (Rae et al. 2021, A1.1) — the named
    // document filters every large-scale curation pipeline applies, as
    // EXACT integer predicates (ratio thresholds compared by
    // cross-multiplication, so no float ever enters a rule): word count
    // in [50, 1e5]; mean word length in [3, 10]; ≥80% words contain an
    // alphabetic char; ≥2 distinct required stop words; symbol('#'/
    // '...')-to-word ratio ≤ 0.1. Per-language rollup of per-rule pass
    // counts + the all-rules keep count. One narrow projection + one
    // 5-group aggregate — per-doc state is six longs, and every
    // predicate pushes into the scan's project stage.
    EngineQuery(
      "text_gopher_rules",
      (s, dir) =>
        docs(s, dir).withColumn("toks", expr(toksSpark))
          .selectExpr("lang",
            "CAST(size(toks) AS BIGINT) AS w",
            "aggregate(toks, CAST(0 AS BIGINT), (a, t) -> a + length(t)) AS chars",
            "CAST(size(filter(toks, t -> t rlike '[a-z]')) AS BIGINT) AS alpha",
            ("CAST(" + Seq("the", "be", "to", "of", "and", "that", "have", "with")
              .map(sw => s"CAST(array_contains(toks, '$sw') AS INT)").mkString(" + ") +
              " AS BIGINT) AS stopd"),
            """CAST(length(text) - length(replace(text, '#', ''))
              | + (length(text) - length(replace(text, '...', ''))) DIV 3 AS BIGINT) AS sym"""
              .stripMargin.replace("\n", ""))
          .selectExpr("lang",
            "CAST(w >= 50 AND w <= 100000 AS INT) AS r_wc",
            "CAST(3 * w <= chars AND chars <= 10 * w AS INT) AS r_mwl",
            "CAST(5 * alpha >= 4 * w AS INT) AS r_alpha",
            "CAST(stopd >= 2 AS INT) AS r_stop",
            "CAST(10 * sym <= w AS INT) AS r_sym")
          .groupBy("lang")
          .agg(
            count(lit(1)).cast("long").as("n_docs"),
            sum("r_wc").cast("long").as("pass_wordcount"),
            sum("r_mwl").cast("long").as("pass_meanwordlen"),
            sum("r_alpha").cast("long").as("pass_alpharatio"),
            sum("r_stop").cast("long").as("pass_stopwords"),
            sum("r_sym").cast("long").as("pass_symbolratio"),
            sum(expr("r_wc * r_mwl * r_alpha * r_stop * r_sym")).cast("long").as("n_kept")),
      Some {
        val stopSum = Seq("the", "be", "to", "of", "and", "that", "have", "with")
          .map(sw => s"CAST(list_contains(toks, '$sw') AS INT)").mkString(" + ")
        s"""WITH t AS (SELECT lang, text, $toksDuck AS toks FROM documents),
           |m AS (SELECT lang,
           |    CAST(len(toks) AS BIGINT) AS w,
           |    CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT) AS chars,
           |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS alpha,
           |    CAST($stopSum AS BIGINT) AS stopd,
           |    CAST(length(text) - length(replace(text, '#', ''))
           |      + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS sym
           |  FROM t),
           |r AS (SELECT lang,
           |    CAST(w >= 50 AND w <= 100000 AS INT) AS r_wc,
           |    CAST(3 * w <= chars AND chars <= 10 * w AS INT) AS r_mwl,
           |    CAST(5 * alpha >= 4 * w AS INT) AS r_alpha,
           |    CAST(stopd >= 2 AS INT) AS r_stop,
           |    CAST(10 * sym <= w AS INT) AS r_sym
           |  FROM m)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(r_wc) AS BIGINT) AS pass_wordcount,
           |  CAST(sum(r_mwl) AS BIGINT) AS pass_meanwordlen,
           |  CAST(sum(r_alpha) AS BIGINT) AS pass_alpharatio,
           |  CAST(sum(r_stop) AS BIGINT) AS pass_stopwords,
           |  CAST(sum(r_sym) AS BIGINT) AS pass_symbolratio,
           |  CAST(sum(r_wc * r_mwl * r_alpha * r_stop * r_sym) AS BIGINT) AS n_kept
           |FROM r GROUP BY lang""".stripMargin
      }),

    // Paragraph-grain cross-doc EXACT dedup (the RefinedWeb/Falcon
    // sub-document pass): docs chunk into non-overlapping 32-word
    // paragraphs, each paragraph's FIRST occurrence corpus-wide wins
    // (min (doc_id, position) — deterministic on any partitioning),
    // and every doc reassembles from its surviving paragraphs. One
    // hash-keyed shuffle decides winners (never all-pairs); the
    // reassembly state is bounded by a doc's own paragraph count. The
    // oracle replays chunking, winner choice, and reassembly — the
    // rebuilt TEXT itself is content-hashed, not just counted.
    EngineQuery(
      "text_paragraph_dedup",
      (s, dir) => {
        val k = 32
        val ch = docs(s, dir)
          .withColumn("toks", expr(toksSpark))
          .selectExpr("doc_id", "lang", "toks", "CAST(size(toks) AS INT) AS n")
          .where(col("n") > 0)
          .selectExpr("doc_id", "lang",
            s"posexplode(transform(sequence(0, CAST((n + ${k - 1}) / $k AS INT) - 1), " +
              s"i -> concat_ws(' ', slice(toks, i * $k + 1, $k)))) AS (cidx, chunk)")
          .withColumn("chash", expr(hash60Spark("chunk")))
          .withColumn("okey", col("doc_id") * 1000000L + col("cidx"))
        val winners = ch.groupBy("chash").agg(min("okey").as("kk"))
        val kept = ch.join(winners, "chash").where(col("okey") === col("kk"))
        val re = kept.groupBy("doc_id", "lang")
          // Residual ordered fold (ExactSum survey, r12): text
          // reassembly genuinely needs chunk POSITION order — no
          // commutative rewrite exists for concatenation. Array bounded
          // by one doc's own chunk count.
          .agg(concat_ws(" ",
            expr("transform(sort_array(collect_list(struct(cidx, chunk))), x -> x.chunk)"))
            .as("new_text"))
        val perLangDocs = re.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("new_text"))).as("chars_kept"),
          sum(expr(s"(${hash60Spark("new_text")}) % 1000003")).as("content_h"))
        val perLangChunks = kept.groupBy("lang").agg(count(lit(1)).as("chunks_kept"))
        perLangDocs.join(perLangChunks, Seq("lang"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, lang, $toksDuck AS toks FROM documents),
             |ix AS (SELECT doc_id, lang, toks,
             |         unnest(range(0, greatest((len(toks) + 31) // 32, 1))) AS cidx
             |       FROM tk WHERE len(toks) > 0),
             |ch AS (SELECT doc_id, lang, cidx,
             |         array_to_string(toks[cidx * 32 + 1 : cidx * 32 + 32], ' ') AS chunk
             |       FROM ix),
             |h AS (SELECT *, ${hash60Duck("chunk")} AS chash,
             |        doc_id * 1000000 + cidx AS okey FROM ch),
             |w AS (SELECT chash, min(okey) AS kk FROM h GROUP BY 1),
             |kept AS (SELECT h.* FROM h JOIN w ON h.chash = w.chash AND h.okey = w.kk),
             |re AS (SELECT doc_id, lang,
             |         string_agg(chunk, ' ' ORDER BY cidx) AS new_text
             |       FROM kept GROUP BY 1, 2),
             |d AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |        CAST(sum(length(new_text)) AS BIGINT) AS chars_kept,
             |        CAST(sum((${hash60Duck("new_text")}) % 1000003) AS BIGINT) AS content_h
             |      FROM re GROUP BY lang),
             |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS chunks_kept FROM kept GROUP BY lang)
             |SELECT d.lang, d.n_docs, d.chars_kept, d.content_h, c.chunks_kept
             |FROM d JOIN c ON d.lang = c.lang""".stripMargin)),

    // Unicode canonicalization (UAX#15 NFC) — the step every web corpus
    // runs before dedup/shingling: the same visible text arrives both
    // precomposed (U+00E9) and decomposed (U+0065 U+0301), and every
    // downstream hash diverges unless one canonical form is enforced.
    // Engine side is the native codegen'd `nfc_normalize` Expression
    // (graft.expressions.NormalizeNfc — OSS Spark has no normalizer
    // builtin; a Scala UDF would break whole-stage codegen on a per-byte
    // hot path). The corpus is ASCII, so the decomposed form is
    // SYNTHESIZED identically on both engines (replace 'e' → 'e'+U+0301),
    // then normalized back; the content hash pins byte equality of the
    // normalized text, not just lengths. DuckDB's nfc_normalize
    // (utf8proc) is the oracle — two independent UAX#15 implementations
    // agreeing byte-for-byte.
    EngineQuery(
      "text_unicode_clean",
      (s, dir) =>
        docs(s, dir)
          // NB: Spark's char(n) is ASCII-only (mods by 256), so the
          // combining acute U+0301 is a Scala escape here; DuckDB's
          // chr(769) is real-codepoint and builds the same byte sequence.
          .selectExpr("lang", "replace(text, 'e', 'e\u0301') AS t")
          .selectExpr("lang", "t", "nfc_normalize(t) AS nt")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(length(col("t"))).as("chars_decomposed"),
            sum(length(col("nt"))).as("chars_nfc"),
            sum(when(col("nt") =!= col("t"), 1L).otherwise(0L)).as("n_changed"),
            sum(expr(s"(${hash60Spark("nt")}) % 1000003")).as("content_h")),
      Some(s"""WITH d AS (SELECT lang, replace(text, 'e', 'e' || chr(769)) AS t FROM documents),
             |n AS (SELECT lang, t, nfc_normalize(t) AS nt FROM d)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(length(t)) AS BIGINT) AS chars_decomposed,
             |  CAST(sum(length(nt)) AS BIGINT) AS chars_nfc,
             |  CAST(sum(CASE WHEN nt <> t THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             |  CAST(sum((${hash60Duck("nt")}) % 1000003) AS BIGINT) AS content_h
             |FROM n GROUP BY lang""".stripMargin))
  )
}
