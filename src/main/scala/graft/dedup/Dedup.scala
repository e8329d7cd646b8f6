package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis._

/** Document deduplication operators for training-data pipelines:
  * exact (hash-groupBy), n-gram Jaccard (shared-gram join), MinHash+LSH
  * (shingle → signature → band → bucket-join → exact-verify), SimHash.
  *
  * Scale design (the 100 TB story):
  *  - Exact dedup is one hash aggregation — partial aggregates map-side,
  *    a single shuffle on the 128-bit content hash (effectively unskewed).
  *  - Pairwise Jaccard via the shared-gram join is the VERIFIER, not the
  *    candidate generator: at scale you never self-join the full gram
  *    posting list (common grams explode quadratically). MinHash+LSH is
  *    the candidate generator — per-doc signature is partition-local
  *    (HOFs, no shuffle), banding shuffles once on (band, bandHash), and
  *    bucket sizes are bounded by collision probability, so the quadratic
  *    blowup is confined to near-duplicate clusters, which is the output.
  *  - Everything is md5-based and deterministic — resumable and
  *    cross-engine reproducible (DuckDB oracle computes identical bits).
  */
object Dedup {

  /** doc_id, toks, grams (distinct word 3-grams) — the SQL/HOF
    * formulation, mirrored verbatim by the DuckDB oracle. */
  def withGrams(docs: DataFrame): DataFrame =
    docs.withColumn("toks", expr(toksSpark)).withColumn("grams", expr(grams3Spark))

  final case class DocTextRow(doc_id: Long, text: String)

  /** (doc_id, grams) computed in a tight JVM loop — element-identical to
    * `withGrams` (GramParitySpec pins it): same whitespace tokenization,
    * same concat_ws null-skip on the short-doc tail, same
    * first-occurrence distinct. The interpreted HOF chain costs ~10× per
    * doc; this is the hot path feeding Jaccard, MinHash and candidate
    * verification. Partition-local, no shuffle. */
  def withGramsJvm(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Encoders
    implicit val inEnc = Encoders.product[DocTextRow]
    implicit val outEnc = Encoders.product[GramRow]
    docs.select(col("doc_id"), col("text")).as[DocTextRow]
      .mapPartitions { it =>
        it.map { r =>
          // NULL text: the SQL path yields [""] (greatest skips the NULL
          // size, try_element_at yields nulls, concat_ws of nulls is "").
          if (r.text == null) GramRow(r.doc_id, Seq(""))
          else {
          val toks = r.text.toLowerCase(java.util.Locale.ROOT)
            .split("\\s+").filter(_.nonEmpty)
          val upper = math.max(toks.length - 2, 1)
          val seen = new java.util.LinkedHashSet[String]()
          var i = 0
          while (i < upper) {
            // concat_ws(' ', ...) skips missing (null) operands.
            val end = math.min(i + 3, toks.length)
            seen.add(toks.slice(i, end).mkString(" "))
            i += 1
          }
          import scala.jdk.CollectionConverters._
          GramRow(r.doc_id, seen.iterator().asScala.toSeq)
          }
        }
      }
      .toDF()
  }

  private val gramsCache = new graft.tables.SessionMemo[String, DataFrame]

  /** Memoized + persisted (doc_id, grams) per (session, path): the gram
    * derivation is the expensive narrow stage and feeds the Jaccard
    * join, the MinHash signatures AND the candidate verification —
    * compute it once per JVM, in the JVM loop. */
  def gramsCached(spark: org.apache.spark.sql.SparkSession, docsParquet: String): DataFrame =
    gramsCache.getOrElseUpdate(spark, docsParquet)({
      val df = withGramsJvm(spark.read.parquet(docsParquet))
        .select(col("doc_id"), col("grams"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    })

  /** Exact dedup groups: one row per distinct text. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_docs"))

  /** All pairs (a_id < b_id) with n-gram Jaccard >= threshold, via the
    * shared-gram join. Exact but quadratic in gram frequency — verifier /
    * small-scale path. Input: (doc_id, grams) — pass gramsCached. */
  def jaccardPairs(grams: DataFrame, threshold: Double): DataFrame = {
    val ex = grams
      .select(col("doc_id"), size(col("grams")).as("ng"), explode(col("grams")).as("gram"))
    ex.alias("a")
      .join(ex.alias("b"), col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(
        col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.ng").as("na"), col("b.ng").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  val NumHashes = 16
  val NumBands = 4
  val RowsPerBand = 4

  /** doc_id, grams, sig (MinHash signature array), band_hash_0..3.
    * Input: (doc_id, grams) — pass gramsCached.
    *
    * Computed in a tight JVM loop via mapPartitions — bit-identical to
    * the SQL/DuckDB formulation (same md5-derived 60-bit base hash, same
    * LCG mixes, same band md5 over comma-joined decimal strings), but
    * ~10× faster than the interpreted HOF evaluation. Partition-local:
    * no shuffle, no broadcast.
    */
  def withMinhash(grams: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    implicit val inEnc = Encoders.product[GramRow]
    implicit val outEnc = Encoders.product[MinhashRow]
    grams.select(col("doc_id"), col("grams")).as[GramRow]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { r =>
          val bases = r.grams.map { g =>
            md.reset()
            val hex = md.digest(g.getBytes("UTF-8"))
              .take(8).map(b => f"${b & 0xff}%02x").mkString // 16 hex chars; we use 15
            java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2147483648L
          }
          val sig = (0 until NumHashes).map { j =>
            val a = 2654435761L * (j + 1) % graft.text.TextAnalysis.MinhashPrime
            bases.map(x => (a * x + j * 40503L + 1) % graft.text.TextAnalysis.MinhashPrime).min
          }
          val bands = (0 until NumBands).map { b =>
            val joined = sig.slice(b * RowsPerBand, (b + 1) * RowsPerBand).mkString(",")
            md.reset()
            md.digest(joined.getBytes("UTF-8")).map(x => f"${x & 0xff}%02x").mkString
          }
          MinhashRow(r.doc_id, r.grams, sig, bands(0), bands(1), bands(2), bands(3))
        }
      }
      .toDF()
  }

  final case class GramRow(doc_id: Long, grams: Seq[String])
  final case class MinhashRow(
      doc_id: Long, grams: Seq[String], sig: Seq[Long],
      band_hash_0: String, band_hash_1: String, band_hash_2: String, band_hash_3: String)

  /** LSH candidate pairs (shared band bucket), verified with exact n-gram
    * Jaccard >= threshold. The scale path: signature + banding are
    * partition-local; the only shuffles are the bucket join and the
    * candidate verification. */
  /** Input: the withMinhash output (doc_id, grams, sig, band_hash_*). */
  /** (doc_id, band_idx, band_hash) — the exploded LSH band view of a
    * withMinhash frame; the single definition of the banding layout
    * (shared by the pair join and the incremental-dedup index). */
  def bands(mh: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map(b => s"band_hash_$b").mkString(", ")
    mh.selectExpr("doc_id", s"posexplode(array($bandCols)) AS (band_idx, band_hash)")
  }

  /** Per-bucket candidate-volume cap, in effect on every banded
    * candidate join unless overridden. 10k anchors × bucket size bounds
    * the worst bucket at s·10k pairs instead of s²/2 — non-binding on
    * organic corpora (sf1's densest bucket is far smaller), it exists
    * for the adversarial tail: one boilerplate-dominated bucket of 1M
    * docs at 100 TB would otherwise emit 5·10¹¹ pairs from a single
    * reduce task. */
  val DefaultMaxBucket = 10000

  /** Banded candidate pairs with the ANCHOR cap: bucket members rank by
    * doc_id (one window over the same (band_idx, band_hash) key the
    * join shuffles on), and a pair survives iff its SMALLER side ranks
    * ≤ `maxBucket`. Since `a.doc_id < b.doc_id` forces `a.rk < b.rk`,
    * that is a pre-filter on the join's left input — per-bucket output
    * is bounded by s·maxBucket, and for buckets ≤ maxBucket EVERY rank
    * qualifies, so a non-binding cap is pair-for-pair identical to the
    * uncapped join (DedupCapSpec pins both directions). CANDIDATE
    * connectivity survives capping: every member still pairs with the
    * bucket's lowest-id anchors. Note the limit of that guarantee:
    * downstream VERIFICATION (Jaccard ≥ t) can reject an anchor pair
    * while a cap-dropped pair would have verified, so under a BINDING
    * cap the verified-pair graph — and therefore clusters — can differ
    * from the uncapped path's; the cap trades that recall tail for the
    * s² bound, and `dedup_bucket_audit` quantifies how much volume a
    * given cap drops. */
  def bandCandidates(mh: DataFrame, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = bands(mh).withColumn("rk",
      row_number().over(
        Window.partitionBy("band_idx", "band_hash").orderBy("doc_id")))
    ranked.filter(col("rk") <= maxBucket).alias("a")
      .join(
        ranked.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** The (doc_id, grams) verification side of the candidate joins, with
    * its join strategy made DELIBERATE (guide §3.1): left to the
    * planner, the whole-corpus gram table auto-broadcasts whenever its
    * COLUMNAR estimate sits under the session threshold — but the
    * broadcast hash relation is deserialized row objects, several times
    * the columnar bytes, and in the mid range (estimate < 64 MB, build
    * hundreds of MB) the driver build OOMs under in-suite heap pressure
    * (observed once at sf1: dedup_capped_pairs, green in isolation).
    * Strategy per spark.graft.dedup.gramsJoin: `shuffle_hash` (default)
    * hints SHUFFLE_HASH on the grams side — the per-partition build is
    * corpus/parallelism, no driver relation, and the shape survives any
    * scale; `auto` restores pure planner choice; any other value is
    * passed through as a hint name (e.g. `shuffle_merge`, `broadcast`).
    * Strategy-only: pair output is bit-identical either way (oracle +
    * DedupCapSpec re-gated). */
  private def gramsSide(mh: DataFrame): DataFrame = {
    val g = mh.select(col("doc_id"), col("grams"))
    mh.sparkSession.conf.getOption("spark.graft.dedup.gramsJoin")
      .getOrElse("shuffle_hash") match {
      case "auto" => g
      case h => g.hint(h)
    }
  }

  def minhashPairs(mh: DataFrame, threshold: Double,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val gramSets = gramsSide(mh)
    bandCandidates(mh, maxBucket)
      .join(gramSets.alias("ga"), col("a_id") === col("ga.doc_id"))
      .join(gramSets.alias("gb"), col("b_id") === col("gb.doc_id"))
      .withColumn("inter", size(array_intersect(col("ga.grams"), col("gb.grams"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("ga.grams")) + size(col("gb.grams")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Asymmetric CONTAINMENT over the same LSH candidate set: inter /
    * min(|A|, |B|) — the sub-document duplication detector (boilerplate,
    * quoted passages, truncated variants score high containment while
    * their symmetric Jaccard stays low because the size difference
    * inflates the union). Same banded candidate generation, same single
    * integer-ratio division; only the denominator changes. */
  def containmentPairs(mh: DataFrame, threshold: Double,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val gramSets = gramsSide(mh)
    bandCandidates(mh, maxBucket)
      .join(gramSets.alias("ga"), col("a_id") === col("ga.doc_id"))
      .join(gramSets.alias("gb"), col("b_id") === col("gb.doc_id"))
      .withColumn("inter", size(array_intersect(col("ga.grams"), col("gb.grams"))))
      .withColumn("containment",
        col("inter").cast("double") /
          least(size(col("ga.grams")), size(col("gb.grams"))))
      .filter(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"),
        round(col("containment"), 6).as("containment"),
        round(col("inter").cast("double") /
          (size(col("ga.grams")) + size(col("gb.grams")) - col("inter")), 6).as("jaccard"))
  }

  final case class TokensRow(doc_id: Long, toks: Seq[String])

  /** doc_id, simhash (32-bit fingerprint as BIGINT). JVM loop,
    * bit-identical to the SQL/DuckDB formulation (same md5-derived token
    * hash mod 2^32, same ±1 bit sums, sign → fingerprint bit). */
  def simhash(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Encoders
    implicit val inEnc = Encoders.product[TokensRow]
    implicit val outEnc = Encoders.product[SimhashRow]
    docs.withColumn("toks", expr(toksSpark))
      .select(col("doc_id"), col("toks")).as[TokensRow]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { r =>
          val th = r.toks.map { t =>
            md.reset()
            val hex = md.digest(t.getBytes("UTF-8"))
              .take(8).map(b => f"${b & 0xff}%02x").mkString
            java.lang.Long.parseLong(hex.substring(0, 15), 16) % 4294967296L
          }
          var fp = 0L
          var b = 0
          while (b < 32) {
            var s = 0
            th.foreach(h => s += (if (((h >> b) & 1L) == 1L) 1 else -1))
            if (s > 0) fp |= 1L << b
            b += 1
          }
          SimhashRow(r.doc_id, fp)
        }
      }
      .toDF()
  }

  final case class SimhashRow(doc_id: Long, simhash: Long)

  /** All fingerprint pairs within `maxHamming`, via FINGERPRINT BANDING:
    * the 32-bit fingerprint splits into maxHamming+1 disjoint bit-range
    * bands, and by pigeonhole any pair differing in <= maxHamming bits
    * is identical in at least one band — so an equi-join on
    * (band_idx, band_val) generates a complete candidate set, and a
    * codegen'd `bit_count(a ^ b)` verifies the exact distance. The only
    * shuffles are the band join and the pair distinct; no driver
    * collect, no broadcast — candidate bucket sizes (not the corpus)
    * bound executor memory. */
  final case class SimhashBandRow(band_idx: Int, band_val: Long, doc_id: Long, simhash: Long)
  final case class SimhashPairRow(a_id: Long, b_id: Long, hamming: Int)

  /** Exact hamming-≤-k pairs via pigeonhole banding (k+1 disjoint bit
    * ranges — a true pair shares at least one exact band). The in-bucket
    * pairing runs as a TIGHT JVM LOOP per band bucket, not a self-join:
    * with k=6 a 32-bit fingerprint gives only 16-32 distinct values per
    * band, so on a dense corpus each bucket holds thousands of docs and
    * a join would materialize every candidate ROW through shuffle +
    * codegen machinery (observed 10⁸ candidate rows and a 100× slowdown
    * at the sf1 smoke on the regenerated corpus). Instead: one shuffle
    * of the (k+1)·n band rows partitioned by (band_idx, band_val),
    * sorted within partitions so each bucket is a contiguous run, then
    * an O(s²) xor/bit-count loop per bucket that EMITS only verified
    * pairs — candidates never exist as rows. The quadratic is inherent
    * to exact hamming search at this fingerprint density (every engine
    * pays the comparisons); what this removes is the per-candidate
    * row/shuffle overhead, and per-bucket memory is 16 B × s (the one
    * bucket currently scanned). Results are pair-identical to the old
    * join formulation (PairOpsPropSpec: banded == naive all-pairs). */
  def simhashPairs(spark: org.apache.spark.sql.SparkSession, fingerprints: DataFrame, maxHamming: Int): DataFrame = {
    val nb = maxHamming + 1
    require(nb >= 1 && nb <= 32, s"maxHamming must be in [0, 31], got $maxHamming")
    val bounds = (0 to nb).map(b => b * 32 / nb)
    val bandExprs = (0 until nb).map { b =>
      val lo = bounds(b)
      val width = bounds(b + 1) - lo
      s"shiftright(simhash, $lo) & ${(1L << width) - 1}L"
    }
    import org.apache.spark.sql.Encoders
    implicit val inEnc = Encoders.product[SimhashBandRow]
    implicit val outEnc = Encoders.product[SimhashPairRow]
    val maxH = maxHamming
    fingerprints.selectExpr(
        "doc_id", "simhash",
        s"posexplode(array(${bandExprs.mkString(", ")})) AS (band_idx, band_val)")
      .selectExpr("band_idx", "band_val", "doc_id", "simhash")
      .as[SimhashBandRow]
      .repartition(col("band_idx"), col("band_val"))
      .sortWithinPartitions(col("band_idx"), col("band_val"), col("doc_id"))
      .mapPartitions { it =>
        val bit = it.buffered
        val los = bounds.toArray
        // Buckets arrive as contiguous runs (partition-sorted); the
        // ascending doc_id sort makes ids(i) < ids(j) for i < j, which
        // reproduces the join's `a.doc_id < b.doc_id` orientation.
        // EXACTLY-ONCE WITHOUT distinct(): a pair collides in every band
        // its fingerprints share, so emit only from the FIRST matching
        // band (both fingerprints are in hand — checking the earlier
        // bands is a few shift/compares). With quadratic-dense output
        // (the regenerated corpus yields 166M true pairs at sf1) the
        // distinct() this replaces was a full shuffle of the entire
        // result; canonical-band emission makes the output exact by
        // construction and COUNT/aggregate consumers never shuffle a
        // single pair row.
        def firstMatchingBand(a: Long, b: Long): Int = {
          var k = 0
          while (k < nb) {
            val lo = los(k)
            val width = los(k + 1) - lo
            val mask = (1L << width) - 1
            if (((a >>> lo) & mask) == ((b >>> lo) & mask)) return k
            k += 1
          }
          nb // unreachable for rows sharing this bucket
        }
        def bucketPairs(): Iterator[SimhashPairRow] = {
          val head = bit.head
          val idsB = new scala.collection.mutable.ArrayBuilder.ofLong
          val fpsB = new scala.collection.mutable.ArrayBuilder.ofLong
          var n = 0
          var lastId = Long.MinValue
          while (bit.hasNext && bit.head.band_idx == head.band_idx &&
              bit.head.band_val == head.band_val) {
            val r = bit.next()
            // Input hygiene matching the old join: duplicate doc_id rows
            // (e.g. a union of fingerprint batches with overlap) must
            // not yield (x, x) self-pairs or double emissions — the
            // id-sorted run makes duplicates adjacent, keep the first.
            if (r.doc_id != lastId) {
              idsB += r.doc_id; fpsB += r.simhash; n += 1; lastId = r.doc_id
            }
          }
          if (n < 2) Iterator.empty
          else {
            val ids = idsB.result()
            val fps = fpsB.result()
            val m = n
            val band = head.band_idx
            new Iterator[SimhashPairRow] {
              private var i = 0
              private var j = 1
              private var ready: SimhashPairRow = _
              private def advance(): Unit = {
                ready = null
                while (ready == null && i < m - 1) {
                  val fa = fps(i)
                  val fb = fps(j)
                  if (java.lang.Long.bitCount(fa ^ fb) <= maxH &&
                      firstMatchingBand(fa, fb) == band)
                    ready = SimhashPairRow(ids(i), ids(j),
                      java.lang.Long.bitCount(fa ^ fb))
                  j += 1
                  if (j >= m) { i += 1; j = i + 1 }
                }
              }
              advance()
              override def hasNext: Boolean = ready != null
              override def next(): SimhashPairRow = {
                val out = ready; advance(); out
              }
            }
          }
        }
        Iterator.continually(if (bit.hasNext) bucketPairs() else null)
          .takeWhile(_ != null)
          .flatten
      }
      .toDF()
  }

  /** Cluster-representative assignment: every doc maps to the smallest
    * doc_id among itself and its verified near-duplicates (one-hop — the
    * standard min-id label step; full transitive closure iterates this
    * join to a fixed point, which converges in O(log n) rounds at scale).
    * Keep-policy: a doc survives dedup iff rep_id == doc_id. */
  def clusterReps(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val neighborMin = pairs
      .selectExpr("a_id AS doc_id", "b_id AS nb")
      .unionByName(pairs.selectExpr("b_id AS doc_id", "a_id AS nb"))
      .groupBy("doc_id").agg(min("nb").as("min_nb"))
    docs.select(col("doc_id"))
      .join(neighborMin, Seq("doc_id"), "left")
      .selectExpr("doc_id", "least(doc_id, coalesce(min_nb, doc_id)) AS rep_id")
  }

  /** Triangle count over an undirected edge list (canonical `a_id <
    * b_id` rows): the clustering-coefficient numerator of the near-dup
    * graph — how "clique-like" duplicate clusters are.
    *
    * Degree-ordered orientation (the standard distributed algorithm):
    * orient every edge from its (degree, id)-smaller endpoint to the
    * larger; each triangle then has exactly ONE vertex with two
    * out-edges, so pairing out-neighbors (the wedge self-join) and
    * probing the closing edge counts each triangle once. The orientation
    * caps out-degree at O(√|E|), bounding the wedge join — the reason
    * this survives hub-heavy graphs where a naive wedge join on the
    * unoriented list explodes quadratically on high-degree nodes. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val und = edges.select("a_id", "b_id")
    val deg = und.select(col("a_id").as("v")).unionByName(und.select(col("b_id").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val orientedPlan = und
      .join(deg.select(col("v").as("a_id"), col("d").as("da")), Seq("a_id"))
      .join(deg.select(col("v").as("b_id"), col("d").as("db")), Seq("b_id"))
      .selectExpr(
        "CASE WHEN da < db OR (da = db AND a_id < b_id) THEN a_id ELSE b_id END AS src",
        "CASE WHEN da < db OR (da = db AND a_id < b_id) THEN b_id ELSE a_id END AS dst")
    // Both wedge-join sides consumed the oriented edge list as a fresh
    // subtree — the degree aggregation and its two joins ran twice
    // each (§1.2). Cut it once: the materialized rows are two BIGINTs
    // per edge (no wide payload, unlike the prefix-join case), so the
    // cut is cheap at any size (r17 A/B: 52 → 16 exchanges).
    val oriented = graft.tables.Checkpoints.cut(orientedPlan)
    val wedges = oriented.alias("x").join(
        oriented.alias("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.dst").as("u"), col("y.dst").as("v"))
    // u < v by construction, so the closing probe hits the canonical row.
    val closed = wedges.join(und,
      wedges("u") === und("a_id") && wedges("v") === und("b_id"))
    closed.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
  }

  /** Triangle-count SCALE TIER: DOULION-style (Tsourakakis et al. 2009)
    * deterministic edge sampling in front of [[triangleCount]]. Each
    * canonical edge survives iff its md5-derived 60-bit hash lands
    * under a threshold sized so ~`targetEdges` edges survive; a
    * triangle survives iff all 3 edges do (probability p³), so
    * sampled_count / p³ is the unbiased estimate. Everything is
    * engine-reproducible: the keep rule is integer (hash % 10⁶ <
    * thr, thr = 10⁶·target DIV total), p = thr/10⁶ is one exact
    * division, and the DuckDB oracle replays the identical sample.
    *
    * The dispatch mirrors the IVF family's: BELOW the target the
    * threshold keeps every edge (p = 1) and the result IS the exact
    * count — the oracle scales run exact — while above it the wedge
    * join's intermediate volume shrinks by p² (the term that kills
    * exact enumeration at 100×: the sf10 strict graph's wedge
    * materialization outgrows local disk). Estimator variance falls
    * with the surviving triangle count; near-dup graphs are
    * clique-heavy, so the count at any scale worth sampling is large
    * (variance measured in TriangleSampleSpec and at sf1 in
    * BASELINE.md). */
  def triangleCountSampled(edges: DataFrame, targetEdges: Long = 1000000L): DataFrame = {
    import graft.text.TextAnalysis.hash60Spark
    val total = edges.select("a_id", "b_id").count()
    val thr = 1000000L * targetEdges / math.max(total, 1L)
    require(thr >= 1L,
      s"triangleCountSampled: $total edges exceed 1e6 * targetEdges=$targetEdges " +
        "— the keep threshold rounds to zero; raise targetEdges")
    // p = 1 keeps every edge — skip the per-edge md5 entirely rather
    // than evaluating a filter that can never drop a row (the exact
    // tier should cost exactly what triangleCount costs).
    val sampled =
      if (thr >= 1000000L) edges
      else edges.filter(expr(
        s"${hash60Spark("concat(CAST(a_id AS STRING), ',', CAST(b_id AS STRING))")} % 1000000 < $thr"))
    val p = math.min(1.0, thr.toDouble / 1000000.0)
    triangleCount(sampled)
      .select(
        round(col("n_triangles").cast("double") / lit(p * p * p), 6)
          .as("n_triangles_est"),
        col("n_triangles").as("n_triangles_sampled"),
        col("n_edges").as("n_edges_sampled"))
      .withColumn("n_edges_total", lit(total))
  }
}
