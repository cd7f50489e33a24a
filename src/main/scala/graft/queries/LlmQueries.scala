package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => TF}
import graft.plans.VecFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** §2.11 LLM-data-pipeline operators: text analysis, exact and
  * approximate dedup (MinHash-LSH, SimHash, n-gram Jaccard), embedding
  * similarity (brute-force and bucketed kNN, near-dup pairs).
  *
  * Correctness: hashing uses md5 (bit-identical across engines)
  * instead of Spark's Murmur3 `hash()` so every operator has an exact
  * DuckDB oracle. MinHash permutations are 8-hex-char slices of two
  * seeded md5s; signature values are lexicographic string minima —
  * total order is engine-agnostic, no hex→int conversion needed.
  *
  * Scale/perf design:
  *  - Shingling is relational (posexplode + window lead + hash agg),
  *    not nested higher-order functions — every stage is inside
  *    whole-stage codegen, and the per-doc shuffle is one window pass.
  *  - Candidate generation is key-partitioned (LSH band keys, cluster
  *    labels) — never an unblocked cross join over the corpus.
  *  - The signature/band table is persisted before the self-join so
  *    the pipeline upstream runs once, mirroring the materialized
  *    signature store a production dedup run would write.
  *  - Vector math uses the codegen'd FloatVecDot expression with
  *    per-vector norms precomputed once (3× fewer dot products than
  *    naive cosine-per-pair).
  */
object LlmQueries {

  /** Target mean bucket occupancy for the LSH signature: enough bits
    * that the average bucket holds ~this many vectors. (Declared
    * before the oracle fragments: both constants interpolate into
    * val-initialized SQL strings below.)
    */
  private[graft] val LshTargetBucket = 32L

  /** Mega-bucket threshold for [[candidatePairs]]: the N-derived
    * expected occupancy ([[LshTargetBucket]] — the layout knobs hold
    * the MEAN bucket near this as N grows) times a slack factor of 8.
    * A bucket past 8× expectation is not near-dup structure, it is a
    * degenerate key (boilerplate, empty-ish docs), and its all-pairs
    * cost is pure waste; 8× leaves genuine dup clusters (tens of
    * docs) fully pairwise-verified. Declared as a val so the DuckDB
    * oracle fragment inlines the SAME constant.
    */
  private[graft] val LshBucketCap = 8L * LshTargetBucket

  /** Per-doc EXACT-VERIFICATION budget for the shingle-intersection
    * verifiers (ngram_jaccard, minhash_containment): each doc_a
    * verifies at most this many of its candidate pairs, selected by
    * deterministic md5 rank (a pure function of the pair ids — both
    * engines and every rerun pick the same ones).
    *
    * Why a second cap on top of [[LshBucketCap]]: the bucket cap
    * bounds the candidate GRAPH (Σ bucket² → cap·Σ bucket), but exact
    * verification multiplies every surviving pair by its shingle-set
    * size — Σ_pairs |shingles| — and that mass is what actually
    * exhausted local disk at the 100× corpus TWICE (round 13:
    * string-keyed rows, fixed by dictionary encoding; round 14: the
    * id-encoded rows again, because sub-cap buckets grew ~10× and the
    * pair count itself went super-linear). A per-doc budget makes the
    * verification intermediate ≤ cap × Σ_docs |shingles| — LINEAR in
    * corpus size, the best an exact verifier can be — which is the
    * shape that survives 100 TB on a real cluster. Un-verified
    * candidates are not lost: they remain in the candidate graph
    * (clustering connectivity is unaffected), and the sketch
    * estimators (minhash_est / minhash_b_bit), whose per-pair cost is
    * O(1), still cover EVERY pair — mirroring the production split
    * where sketches are decisive and exact verification is a budgeted
    * spot-check.
    */
  private[graft] val VerifyDegreeCap = 16L

  /** fs_linkage assessor-set (m, u) per field → (agree, disagree)
    * log-likelihood-ratio weights, computed HERE once (lang m=.95
    * u=.30; source m=.90 u=.20; length m=.85 u=.10) and embedded in
    * the oracle as shortest round-trip literals, plus the
    * match-class threshold.
    */
  private val FsMU: Seq[(Double, Double)] =
    Seq((0.95, 0.30), (0.90, 0.20), (0.85, 0.10))
  private[queries] val FsWeights: Seq[(Double, Double)] =
    FsMU.map { case (m, u) =>
      (math.log(m / u), math.log((1 - m) / (1 - u)))
    }
  private[queries] val FsMatchThr = 2.0
  private[queries] def fsWSql(i: Int, agree: Boolean): String = {
    val w = if (agree) FsWeights(i)._1 else FsWeights(i)._2
    s"CAST('${java.lang.Double.toString(w)}' AS DOUBLE)"
  }

  // ---- shared DuckDB oracle fragments --------------------------------
  /** DuckDB replica of TextFunctions.normText over an arbitrary input
    * expression (note: DuckDB regexp_replace needs the 'g' flag; Spark
    * replaces all matches). Parameterized so callers that pre-coalesce
    * nulls (text_scan) compose the SAME normalization instead of
    * patching the SQL string — a silent-divergence hazard if the
    * expression ever changes.
    */
  private[queries] def normOf(input: String): String =
    s"""trim(regexp_replace(regexp_replace(lower($input), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"""

  private[queries] val NORM = normOf("text")
  private[queries] val TOKS = s"string_split($NORM, ' ')"
  private[queries] val NTOK = s"(CASE WHEN length($NORM) = 0 THEN 0 ELSE len($TOKS) END)"

  /** Memoized + persisted BPE word table: the frequency-weighted
    * top-200 words with their initial sentinel-spaced character
    * symbols. The merge chain re-derives its input lineage once per
    * step (5-6×); without this cache each re-derivation re-aggregates
    * the corpus-scale term relation — with it, every step reads 200
    * cached rows. Shared by bpe_merges and bpe_apply; released via
    * the bench cache lifecycle like every memoized artifact.
    */
  private[graft] def bpeWordTable(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    memoized(s, d, "bpe_words") {
      import s.implicits._
      termTable(s, d)
        .groupBy($"term").agg(count(lit(1)).as("tf"))
        .orderBy($"tf".desc, $"term").limit(200)
        .select($"term", $"tf",
          concat(lit(" "), regexp_replace($"term", "(.)", "$1 ")).as("sym"))
    }

  /** Trained BPE merge rules as driver-side values: (step, a, b, cnt),
    * at most 5 entries, computed ONCE per (session, dir) and cached.
    *
    * Round-12 structural fix for the round-11 GATE-2 breach: the prior
    * formulation kept the whole training chain as LINEAGE — step i's
    * word table was `words_{i-1}.crossJoin(broadcast(best_i))` where
    * `best_i` itself embeds `words_{i-1}`, so the final plan held 2⁵
    * duplicated subtrees, and bpe_apply/bpe_decode/vocab each re-embedded
    * and re-planned that exponential tree. Collecting each step's argmax
    * (ONE row over the 200-row word table — bounded at any corpus size,
    * because real BPE trains on the vocabulary-bounded word-frequency
    * table, not the corpus) turns the chain into 5 tiny jobs over the
    * persisted [[bpeWordTable]] and makes every downstream plan linear:
    * consumers fold over 5 string literals instead of a re-planned
    * broadcast-limit training lineage.
    */
  private val bpeRuleCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), Seq[(Long, String, String, Long)]]

  private[graft] def bpeTrainedRules(
      s: org.apache.spark.sql.SparkSession, d: String): Seq[(Long, String, String, Long)] = {
    bpeRuleCache.keys.filter(_._1.sparkContext.isStopped).foreach(bpeRuleCache.remove)
    bpeRuleCache.getOrElseUpdate((s, d), {
      import s.implicits._
      var words = bpeWordTable(s, d)
      val rules = Seq.newBuilder[(Long, String, String, Long)]
      var exhausted = false
      for (step <- 1 to 5 if !exhausted) {
        val best = words.withColumn("w", split($"sym", " "))
          .select($"tf", explode(sequence(lit(1), size($"w") - 1)).as("i"), $"w")
          .select($"tf",
            element_at($"w", $"i").as("a"), element_at($"w", $"i" + 1).as("b"))
          .filter($"a" =!= "" && $"b" =!= "")
          .groupBy($"a", $"b").agg(sum($"tf").as("cnt"))
          .orderBy($"cnt".desc, $"a", $"b").limit(1)
          .as[(String, String, Long)].collect()
        best.headOption match {
          case None => exhausted = true // degenerate corpus: no pairs left
          case Some((a, b, cnt)) =>
            rules += ((step.toLong, a, b, cnt))
            words = words
              .withColumn("sym", bpeMergeStep($"sym", lit(a), lit(b)))
              .select($"term", $"tf", $"sym")
        }
      }
      rules.result()
    })
  }

  /** Memoized + persisted encoded-token table (doc_id, i, tok, sym):
    * every non-empty corpus token with its ordinal and its
    * sentinel-spaced symbol string after all 5 trained merges. The 5
    * chained greedy merge folds are the BPE family's dominant cost
    * (HOF folds evaluate interpreted, ~n_chars work per token) and
    * bpe_apply and bpe_decode need byte-identical merge output —
    * computing it once and caching makes decode an id-mapping pass
    * over cached rows instead of a second full merge of the corpus
    * (22.5 s → ~3 s at sf0.1). Released after bpe_decode (the
    * family's last consumer). Merge rules arrive as string LITERALS
    * from [[bpeTrainedRules]] — one codegen'd projection over the
    * token scan, no broadcast row, no training lineage in the plan.
    */
  private[graft] def bpeToksTable(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    memoized(s, d, "bpe_toks") {
      import s.implicits._
      val rules = bpeTrainedRules(s, d)
      val toks = Tables.documents(s, d)
        .select($"doc_id", posexplode(TF.tokens($"text")).as(Seq("i", "tok")))
        .filter($"tok" =!= "")
      val start = concat(lit(" "), regexp_replace($"tok", "(.)", "$1 "))
      val merged = rules.foldLeft(start) { case (sym, (_, a, b, _)) =>
        bpeMergeStep(sym, lit(a), lit(b))
      }
      toks.select($"doc_id", $"i", $"tok", merged.as("sym"))
    }

  /** Greedy left-to-right BPE pair merge over a sentinel-spaced
    * symbol string — exact Sennrich merge-all semantics: scan the
    * symbols once, merge (a,b)→ab, resume AFTER the merged symbol.
    * Since round 11 this routes to the codegen'd
    * [[graft.plans.BpeMergeAll]] expression: the prior HOF fold
    * (kept in Round11BpeSpec, which pins the two as equal)
    * evaluated interpreted with a boxed accumulator
    * per symbol — chained ×5 over every corpus token it made
    * bpe_apply the bench's most expensive query. Mirrored in the
    * oracle via DuckDB list_reduce (duckBpeMerge) so both engines
    * carry reference semantics.
    */
  private def bpeMergeStep(sym: Column, a: Column, b: Column): Column = {
    graft.plans.BpeFunctions.register(org.apache.spark.sql.SparkSession.active)
    graft.plans.BpeFunctions.bpeMerge(sym, a, b)
  }

  /** DuckDB twin of bpeMergeStep: greedy merge fold via list_reduce.
    * `sym` is a SQL expression for the sentinel-spaced symbol string;
    * `a`/`b` are SQL expressions for the rule columns (must be plain
    * column references visible in the enclosing FROM — lambdas can
    * reference correlated columns but not scalar subqueries).
    */
  private def duckBpeMerge(sym: String, a: String, b: String): String =
    s"""' ' || list_reduce(list_filter(string_split($sym, ' '), x -> x <> ''),
       |  (acc, x) -> CASE WHEN x = $b AND (acc = $a OR ends_with(acc, ' ' || $a))
       |    THEN substr(acc, 1, length(acc) - length($a)) || $a || $b
       |    ELSE acc || ' ' || x END) || ' '""".stripMargin

  /** BPE training as unrolled CTE stages (through w5/b1..b5): the
    * frequency-weighted top-200 word table, then 5 iterations of
    * tf-weighted pair counting → deterministic argmax (b$i) → greedy
    * left-to-right merge (duckBpeMerge). Shared by the bpe_merges and
    * bpe_apply oracles so train and apply can never diverge on the
    * rules.
    */
  private val duckBpeTrainCtes: String = {
    def stage(i: Int): String =
      s"""s$i AS (SELECT term, tf, string_split(sym, ' ') AS w FROM w${i - 1}),
         |i$i AS (SELECT tf, w, unnest(range(1, len(w))) AS i FROM s$i),
         |p$i AS (SELECT a, b, CAST(sum(tf) AS BIGINT) AS cnt
         |        FROM (SELECT tf, w[i] AS a, w[i + 1] AS b FROM i$i) q
         |        WHERE a <> '' AND b <> '' GROUP BY a, b),
         |b$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |w$i AS (SELECT term, tf,
         |  ${duckBpeMerge("sym", s"r$i.a", s"r$i.b")} AS sym
         |  FROM w${i - 1}, b$i r$i)""".stripMargin
    s"""t AS (SELECT unnest($TOKS) AS term FROM documents),
       |c AS (SELECT term, count(*) AS tf FROM t WHERE term <> '' GROUP BY term),
       |top AS (SELECT term, tf FROM c ORDER BY tf DESC, term LIMIT 200),
       |w0 AS (SELECT term, tf,
       |  ' ' || regexp_replace(term, '(.)', '\\1 ', 'g') AS sym FROM top),
       |${(1 to 5).map(stage).mkString(",\n")}""".stripMargin
  }

  /** DuckDB 3-gram shingle list from a token list column `w`. */
  private def duckShingles(w: String): String =
    s"list_transform(range(1, len($w) - 1), i -> $w[i] || ' ' || $w[i+1] || ' ' || $w[i+2])"

  /** toks + sh CTEs (per-doc shingle LIST) shared by every shingle
    * consumer's oracle.
    */
  private[queries] val duckShingleCtes: String =
    s"""toks AS (SELECT doc_id, $TOKS AS w FROM documents WHERE length($NORM) > 0),
       |sh AS (SELECT doc_id, ${duckShingles("w")} AS sh FROM toks WHERE len(w) >= 3)""".stripMargin

  /** DuckDB replica of TextFunctions.qualityScore over `documents.text`
    * (same op order as the Spark column; rounding via Q.rnd formula).
    */
  private[queries] val duckQuality: String = {
    val punct = s"(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END)"
    val stop = s"(CASE WHEN $NTOK = 0 THEN 0.0 ELSE CAST(len(list_filter($TOKS, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len($TOKS) END)"
    s"""floor(greatest(0.0,
       |   least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
       |   + least($stop * 5.0, 1.0) * 0.5
       |   - least($punct * 2.0, 1.0) * 0.3) * 10000.0 + 0.5) / 10000.0""".stripMargin
  }

  /** DuckDB replica of TextFunctions.langIdHeuristic (same marker
    * words, same precedence). Shared by the lang_id and
    * curation_funnel oracles.
    */
  private[queries] val duckLangCase: String =
    s"""CASE
       |  WHEN regexp_matches($NORM, '\\bder\\b') OR regexp_matches($NORM, '\\bund\\b') OR regexp_matches($NORM, '\\bdie\\b') THEN 'de'
       |  WHEN regexp_matches($NORM, '\\ble\\b') OR regexp_matches($NORM, '\\bla\\b') OR regexp_matches($NORM, '\\bet\\b') THEN 'fr'
       |  WHEN regexp_matches($NORM, '\\bel\\b') OR regexp_matches($NORM, '\\blos\\b') OR regexp_matches($NORM, '\\buna\\b') THEN 'es'
       |  WHEN regexp_matches($NORM, '\\bthe\\b') OR regexp_matches($NORM, '\\band\\b') OR regexp_matches($NORM, '\\bis\\b') THEN 'en'
       |  ELSE 'unknown' END""".stripMargin

  /** DuckDB minhash permutation i (of 8): lexicographic min over the
    * i-th 8-hex-char slice of md5("<half>:" ++ shingle).
    */
  private def duckMinhash(sh: String, i: Int): String = {
    val seed = if (i < 4) "0" else "1"
    val off = 1 + 8 * (i % 4)
    s"list_min(list_transform($sh, s -> substr(md5('$seed:' || s), $off, 8)))"
  }

  private def duckBandKey(sh: String, b: Int): String =
    s"${duckMinhash(sh, 2 * b)} || '|' || ${duckMinhash(sh, 2 * b + 1)}"

  /** Candidate-pair CTEs shared by minhash_dedup / ngram_jaccard /
    * dedup_clusters — including the [[LshBucketCap]] mega-bucket
    * guard, mirrored verbatim from [[candidatePairs]]: buckets at or
    * under the cap pair all-vs-all, oversized buckets emit star edges
    * to their min-doc_id representative. One policy, two engines.
    */
  private[queries] val duckCandidateCtes: String = {
    val bandCases = (0 until 4)
      .map(b => s"WHEN ${b} THEN ${duckBandKey("sh", b)}")
      .mkString(" ")
    s"""$duckShingleCtes,
       |bands AS (SELECT doc_id, b.band,
       |  CASE b.band $bandCases END AS key
       | FROM sh CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b),
       |bstat AS (SELECT band, key, count(*) AS bn, min(doc_id) AS rep
       | FROM bands GROUP BY band, key),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |   ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |  JOIN bstat s ON s.band = a.band AND s.key = a.key
       |  WHERE s.bn <= $LshBucketCap
       | UNION ALL
       | SELECT s.rep AS doc_a, b.doc_id AS doc_b
       |  FROM bands b JOIN bstat s ON s.band = b.band AND s.key = b.key
       |  WHERE s.bn > $LshBucketCap AND b.doc_id <> s.rep) u)""".stripMargin
  }

  /** [[duckCandidateCtes]] plus the budgeted verification relation —
    * the oracle mirror of [[verifyPairs]]: same md5("a|b") rank, same
    * [[VerifyDegreeCap]], same doc_b tie-break, same per-pair
    * `budgeted` honesty flag (doc_a's candidate degree > cap).
    */
  private[queries] val duckVerifyCandCtes: String =
    s"""$duckCandidateCtes,
       |vcand AS (SELECT doc_a, doc_b, (deg > $VerifyDegreeCap) AS budgeted FROM (
       | SELECT doc_a, doc_b, row_number() OVER (PARTITION BY doc_a
       |   ORDER BY md5(CAST(doc_a AS VARCHAR) || '|' || CAST(doc_b AS VARCHAR)), doc_b) AS rk,
       |  count(*) OVER (PARTITION BY doc_a) AS deg
       | FROM cand) r WHERE rk <= $VerifyDegreeCap)""".stripMargin

  /** DuckDB decode of one md5 hex digit (0-based position k) to 0-15. */
  private[queries] def duckHexDigit(col: String, k: Int): String =
    s"(strpos('0123456789abcdef', substr($col, ${k + 1}, 1)) - 1)"

  /** DuckDB decode of the first 8 md5 hex digits to an unsigned 32-bit
    * value in a BIGINT — the mirror of [[graft.functions.Hashing.unitFloat]]'s
    * byte packing. Shared by every oracle that replays seeded-md5
    * pseudo-randomness (LSH hyperplanes, stratified sampling).
    */
  private[queries] def duckHex8ToBigint(col: String): String =
    (0 until 8)
      .map(k => s"CAST(${duckHexDigit(col, k)} AS BIGINT) * ${1L << (4 * (7 - k))}")
      .mkString(" + ")

  /** 64-bit SimHash oracle fragments: per-bit majority sums over the 16
    * hex digits of each shingle md5, then recombination into one BIGINT.
    * Bit 63 recombines as long-min (expressed as -(2^63-1)-1: DuckDB
    * parses the bare min-long literal as HUGEINT); every partial sum of
    * the combine stays in BIGINT range, so the checked addition never
    * overflows.
    */
  private val duckSimhashSums: String =
    (0 until 64).map { j =>
      s"sum(CASE WHEN (${duckHexDigit("h", j / 4)} & ${1 << (j % 4)}) > 0 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(",\n ")

  private val duckSimhashCombine: String =
    (0 until 64).map { j =>
      val term = if (j == 63) "(-9223372036854775807 - 1)" else (1L << j).toString
      s"(CASE WHEN s$j > 0 THEN $term ELSE 0 END)"
    }.mkString(" + ")

  /** DuckDB Σ aᵢ·bᵢ over two float-list columns — the same
    * left-to-right double accumulation as [[graft.plans.FloatVecDot]].
    */
  private[queries] def duckDot(x: String, y: String): String =
    s"list_sum(list_transform(range(1, len($x) + 1), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"

  /** DuckDB cosine between two float-list columns: same double ops in
    * the same order as vec_dot + precomputed sqrt norms.
    */
  private[queries] def duckCos(a: String, b: String): String = {
    val nn = s"(sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)}))"
    s"(CASE WHEN $nn = 0 THEN 0.0 ELSE ${duckDot(a, b)} / $nn END)"
  }

  /** ‖x−c‖² between a PQ subvector `s.sub` and codebook entry `c.cent`
    * — same (x·x − 2·x·c) + c·c op order as [[pqAssign]].
    */
  private val duckPqD2: String =
    s"${duckDot("s.sub", "s.sub")} - 2*${duckDot("s.sub", "c.cent")} + ${duckDot("c.cent", "c.cent")}"

  /** ADC score pivot: the 8 per-subspace partial dots re-assembled in
    * fixed column order (engine-identical IEEE addition order).
    */
  private val duckPqFixedSum: String = (0 until 8)
    .map(m => s"max(CASE WHEN m = $m THEN pdot END)")
    .mkString(" + ")

  /** Shared PQ replay CTE chain (subvector split → seed assignment →
    * decimal-exact codebook → encode → per-query ADC table) — ONE
    * definition consumed by both the `knn_pq` and `knn_ivfpq` oracles
    * so the codebook replay can never drift between them. Mirrors
    * [[pqCodebook]]/[[pqAssign]] exactly (same d2 op order, same code
    * tiebreak, same 6dp-snap-before-decimal mean).
    */
  private val duckPqCtes: String =
    s"""subq AS (
       |  -- NULL vectors are unindexable (mirrors pqSubvectors' filter)
       |  SELECT vec_id, label, m.range AS m,
       |    embedding[m.range*8+1 : m.range*8+8] AS sub
       |  FROM embeddings, range(0, 8) m
       |  WHERE embedding IS NOT NULL
       |),
       |seeds AS (
       |  SELECT vec_id AS code, m, sub AS cent FROM subq WHERE vec_id < 64
       |),
       |asg AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY $duckPqD2, c.code) AS rk
       |    FROM subq s JOIN seeds c ON s.m = c.m) t
       |  WHERE rk = 1
       |),
       |dims AS (
       |  SELECT a.code, s.m, generate_subscripts(s.sub, 1) AS pos,
       |    CAST(${Q.duckRnd("CAST(unnest(s.sub) AS DOUBLE)", 6)} AS DECIMAL(18,6)) AS dv
       |  FROM subq s JOIN asg a ON s.vec_id = a.vec_id AND s.m = a.m
       |),
       |cvs AS (
       |  SELECT code, m, pos, CAST(sum(dv) AS DOUBLE) / count(*) AS cv
       |  FROM dims GROUP BY code, m, pos
       |),
       |cb AS (
       |  SELECT code, m, list(CAST(cv AS REAL) ORDER BY pos) AS cent
       |  FROM cvs GROUP BY code, m
       |),
       |enc AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY $duckPqD2, c.code) AS rk
       |    FROM subq s JOIN cb c ON s.m = c.m) t
       |  WHERE rk = 1
       |),
       |qtab AS (
       |  SELECT s.vec_id AS q_id, s.m, c.code,
       |    ${duckDot("s.sub", "c.cent")} AS pdot
       |  FROM subq s JOIN cb c ON s.m = c.m WHERE s.vec_id < 100
       |)""".stripMargin

  // ---- Spark-side shared builders ------------------------------------

  /** 3-gram shingle rows (doc_id, sh), computed IN-ROW with array
    * higher-order functions: tokens stay an array, each window of 3
    * adjacent tokens concatenates inside one projection, then a single
    * explode emits the rows. The former formulation posexploded every
    * token and reassembled adjacent tokens with two `lead` windows —
    * one full exchange + sort of the corpus token relation per build
    * (guide §2.4 "remove shuffles outright"): the shingle of position
    * i is a pure function of the doc's own token array, so no data
    * ever needed to move. Row multiset is identical by construction —
    * transform(slice(toks, 1, n−2)) enumerates exactly the positions
    * whose lead(2) was non-null, in the same per-doc order, and
    * concat_ws treats empty tokens identically in both forms.
    */
  private def shingleRows(docs: DataFrame): DataFrame = {
    // fan BEFORE the tokenizer: on the single-split local fixture the
    // tokenize+explode otherwise runs inside the one scan task
    // (guide §2.5); identity at cluster scale
    Q.fan(docs.sparkSession, docs.select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(expr(
        "transform(slice(toks, 1, greatest(size(toks) - 2, 0)), " +
          "(t, i) -> concat_ws(' ', t, toks[i + 1], toks[i + 2]))")).as("sh"))
  }

  /** Persisted (doc_id, band, key) LSH table: 2 md5s per shingle,
    * sliced into 8 permutations (the relational form of
    * [[Similarity.minhash]] — same strings), min-aggregated,
    * 4 bands × 2 rows. Memoized per (session, dir): minhash_dedup and
    * ngram_jaccard in one Verify/Bench loop share one cached table
    * instead of each persisting a fresh copy that is never released.
    */
  private val tableCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, String), DataFrame]

  /** Memoized scalar table statistics (e.g. the embeddings corpus count
    * driving the LSH signature width) — the production analog of
    * catalog-held table stats. One metadata job per (session, dir),
    * not one per query invocation.
    */
  private val statCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, String), Long]

  private[queries] def memoizedCount(
      s: org.apache.spark.sql.SparkSession, d: String, tag: String)(count: => Long): Long = {
    statCache.keys.filter(_._1.sparkContext.isStopped).foreach(statCache.remove)
    statCache.getOrElseUpdate((s, d, tag), count)
  }

  /** Tags of the session's live memoized tables — the bench snapshots
    * this around each query to attribute which query paid each
    * one-time cache build (cost-shifting inside the family made
    * per-query deltas unreadable across rounds).
    */
  private[graft] def memoizedTags(s: org.apache.spark.sql.SparkSession): Set[String] =
    tableCache.keys.collect { case (ss, _, tag) if ss eq s => tag }.toSet

  /** Unpersist + drop ONE memoized table — cache lifecycle for a
    * sequential run: each table is released as soon as its last
    * consumer finishes, bounding PEAK storage instead of holding all
    * eight tables to end-of-run. At 100 TB the sketch stores dwarf
    * executor storage memory; holding dead caches is the difference
    * between fitting and spilling (and, single-node, between a quiet
    * run and GC-pressure tax on whatever runs next). A later consumer
    * of a released table simply rebuilds it — correctness never
    * depends on the cache.
    */
  private[graft] def release(
      s: org.apache.spark.sql.SparkSession, d: String, tag: String): Unit =
    tableCache.remove((s, d, tag)).foreach { df =>
      if (!s.sparkContext.isStopped) df.unpersist()
    }

  /** Drop memoized signature tables (all, or one session's). Needed
    * when the documents parquet under a cached dir is regenerated
    * mid-session — like Spark's own table cache, the memoized table
    * does not watch the files — or before discarding a long-lived
    * session.
    */
  def clearCaches(session: Option[org.apache.spark.sql.SparkSession] = None): Unit = {
    tableCache.keys
      .filter(k => session.forall(_ eq k._1))
      .foreach(k => tableCache.remove(k).foreach { df =>
        if (!k._1.sparkContext.isStopped) df.unpersist()
      })
    statCache.keys
      .filter(k => session.forall(_ eq k._1))
      .foreach(statCache.remove)
    bpeRuleCache.keys
      .filter(k => session.forall(_ eq k._1))
      .foreach(bpeRuleCache.remove)
  }

  /** Memoize + persist a per-(session, dir) derived table: consumers
    * that self-join it (LSH bands, SimHash pairing) read the cached
    * partitions instead of recomputing the shingle/hash pipeline per
    * join side, and repeated queries in one Verify/Bench loop share
    * one copy. Entries of stopped sessions are dropped on access so
    * the cache cannot grow across session restarts.
    */
  private[queries] def memoized(
      s: org.apache.spark.sql.SparkSession, d: String, tag: String,
      persistIt: Boolean = true)(build: => DataFrame): DataFrame = {
    tableCache.keys.filter(_._1.sparkContext.isStopped).foreach(tableCache.remove)
    // persistIt = false for builders whose result is ALREADY the
    // operator-managed persisted frame (ConnectedComponents.minLabel
    // returns its own persisted output): persist() on top would be a
    // redundant re-cache request, and clearCaches' unpersist() must
    // target that frame directly to free its blocks.
    tableCache.getOrElseUpdate((s, d, tag),
      if (persistIt) build.persist() else build)
  }

  /** Memoized + persisted raw shingle rows (multiset — duplicates
    * kept): the ONE run of the tokenize→posexplode→window pipeline that
    * every shingle consumer (MinHash band table, SimHash table, Jaccard
    * verification) builds on. Before this was shared, the three
    * consumers each re-ran the pipeline — 3× the dominant cost of the
    * whole dedup family.
    */
  private[graft] def shingleTable(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    memoized(s, d, "shingles") {
      shingleRows(Tables.documents(s, d))
    }

  /** Memoized DISTINCT shingle rows — the set-semantics view of
    * [[shingleTable]] shared by Jaccard verification and contamination
    * screening, so the distinct shuffle runs once per (session, dir)
    * instead of once per consumer reference.
    */
  private[queries] def distinctShingleTable(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    memoized(s, d, "shingles_distinct") {
      shingleTable(s, d).distinct()
    }

  /** Memoized dictionary-encoded distinct-shingle relation (doc_id,
    * sid): each shingle STRING mapped once to a dense long id, so the
    * exact pair-verification joins (ngram_jaccard,
    * minhash_containment) shuffle an 8-byte key instead of the ~20-30
    * byte shingle text. Their Σ_pairs |shingles| intermediate is the
    * single largest relation the dedup stack materializes — at the
    * 100× long-doc sweep corpus the string-keyed formulation spilled
    * past the sandbox's entire local disk (round-13 finding), while
    * the encoded rows are fixed 24-byte triples. Ids are assigned by
    * the skew-free distributed prefix-sum rank over the distinct
    * vocabulary ([[graft.operators.DistributedNtile.withRunningSum]]
    * — never a single-task global sort, never
    * monotonically_increasing_id whose values depend on partition
    * layout), so the mapping is a pure deterministic function of the
    * vocabulary and both join sides agree even across recomputation.
    */
  private[queries] def shingleIdTable(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    memoized(s, d, "shingle_ids") {
      val dsh = distinctShingleTable(s, d)
      val vocab = dsh.select(col("sh")).distinct().withColumn("g", lit(1))
      val ids = graft.operators.DistributedNtile.withRunningSum(
        vocab, "g", Seq(col("sh")), lit(1L), "sid")
        .select(col("sh"), col("sid"))
      dsh.join(ids, Seq("sh")).select(col("doc_id"), col("sid"))
    }

  /** Memoized token rows (doc_id, term) — the corpus term relation
    * feeding tf and df aggregates (tfidf_topk), so the tokenize+explode
    * pipeline runs once, not once per aggregate branch.
    */
  private[queries] def termTable(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    memoized(s, d, "term_rows") {
      // fan: tokenizer off the single scan task AND the cached relation
      // itself lands 32-wide — consumers' first aggregate over the
      // 1-partition cache was serial too (guide §2.5)
      Q.fan(s, Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
    }

  /** Memoized 8-permutation MinHash signature table (doc_id, p0..p7)
    * — the materialized sketch store. The band table derives from it;
    * `minhash_est` reads it directly for sketch-based similarity
    * estimates.
    */
  private[queries] def sigTable(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    memoized(s, d, "minhash_sigs") {
      val hashes = shingleTable(s, d).select(col("doc_id"),
        md5(concat(lit("0:"), col("sh"))).as("h0"),
        md5(concat(lit("1:"), col("sh"))).as("h1"))
      // Aggregate the minima as LONGs, not hex STRINGs: min(string)
      // has no mutable fixed-width agg buffer, so Spark planned a
      // SortAggregate — a full sort of the corpus shingle-hash
      // relation per build. An 8-hex-digit lowercase slice orders
      // lexicographically exactly as its numeric value ('0'<'9'<'a'<
      // 'f' and fixed width), so min commutes with conv(·,16,10) and
      // the long-min is the SAME permutation minimum. HashAggregate +
      // 8-byte shuffle lanes replace SortAggregate + string lanes
      // (guide §2.3 narrower types / §1.2 per-task work); the hex
      // string every consumer and oracle mirror expects is rebuilt
      // AFTER the aggregate (lpad restores md5's leading zeros), so
      // the cached table is bit-identical to the former build.
      val perms = (0 until 8).map { i =>
        val src = if (i < 4) "h0" else "h1"
        min(conv(substring(col(src), 1 + 8 * (i % 4), 8), 16, 10)
          .cast("long")).as(s"m$i")
      }
      hashes.groupBy(col("doc_id")).agg(perms.head, perms.tail: _*)
        .select((col("doc_id") +: (0 until 8).map(i =>
          lpad(lower(hex(col(s"m$i"))), 8, "0").as(s"p$i"))): _*)
    }

  private[graft] def bandTable(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    memoized(s, d, "bands") {
      sigTable(s, d).select(col("doc_id"),
        posexplode(array((0 until 4).map(b =>
          concat_ws("|", col(s"p${2 * b}"), col(s"p${2 * b + 1}"))): _*))
          .as(Seq("band", "key")))
    }

  /** 64-bit SimHash per doc: majority vote over all 16 hex digits of
    * each shingle md5, decoded with ascii() arithmetic (codegen'd; the
    * oracle decodes via strpos — identical integers). Shared by the
    * `simhash` signature query and the `simhash_neardup` pairing.
    *
    * 64 bits (not 16): with b-bit bands the keyed self-join cost is
    * Σ bucket² over ~2^b keys per band. A 16-bit signature caps each
    * band at 256 keys, so buckets grow ~N/256 and the join degenerates
    * quadratically at corpus scale; 16-bit bands give 65,536 keys per
    * band — at N = 50M docs that is ~760 docs/bucket, and bucket
    * population scales N/65,536 instead of N/256 (256× smaller
    * Σ bucket²). The sign bit (j = 63) is built with Long.MinValue and
    * combined via bitwiseOR, so no arithmetic overflow semantics are
    * involved.
    */
  private[graft] def simhashTable(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    memoized(s, d, "simhash") {
      val ex = shingleTable(s, d).select(col("doc_id"), md5(col("sh")).as("h"))
      val digits = (0 until 16).map { k =>
        val a = ascii(substring(col("h"), k + 1, 1))
        when(a >= 97, a - 87).otherwise(a - 48).as(s"d$k")
      }
      val contribs = (0 until 64).map { j =>
        val bit = shiftright(col(s"d${j / 4}"), j % 4).bitwiseAND(lit(1))
        sum(when(bit > 0, 1).otherwise(-1)).as(s"s$j")
      }
      ex.select((col("doc_id") +: digits): _*)
        .groupBy(col("doc_id")).agg(contribs.head, contribs.tail: _*)
        .select(col("doc_id"),
          (0 until 64).map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
            .reduce(_.bitwiseOR(_)).as("simhash"))
    }

  /** SimHash band layout (bandCount, bandWidth) derived from corpus
    * size N — the same knob as [[lshBitsFor]]: width w =
    * clamp(ceil(log2(N / [[LshTargetBucket]])), 4, 16) keeps mean
    * band-bucket occupancy near the target as N grows (2^w keys per
    * band), and bandCount = floor(64 / w) ≥ 4 preserves the pigeonhole
    * guarantee — a pair within Hamming distance 3 differs in at most 3
    * bands, so with ≥ 4 bands at least one band key matches, making
    * the keyed self-join a COMPLETE candidate generator for Hamming ≤ 3
    * at EVERY layout this returns. (Bits beyond bandCount*w go
    * uncovered, which loses discrimination, never recall; the
    * post-join bit_count filter is exact either way, so the query
    * result is layout-independent.)
    *
    * The former fixed 4×16 layout capped keys/band at 65,536 forever,
    * so Σ bucket² — the self-join cost — degenerated once N outgrew
    * ~targetBucket×65,536 (~2M docs). Deriving w from N keeps bucket
    * population flat up to that point; past it a 64-bit signature has
    * no wider complete layout to give (w > 16 would leave < 4 bands),
    * which is the documented hard cap of simhash-64 at Hamming ≤ 3 —
    * beyond it, partition the corpus or move to the MinHash path whose
    * signature width is unbounded. The bench's band-bucket guard
    * measures the actual max bucket per run so degeneracy is observed,
    * not assumed.
    */
  private[graft] def simhashBandLayout(n: Long): (Int, Int) = {
    val buckets = math.max(1L, n / LshTargetBucket)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, buckets - 1))
    val w = math.min(16, math.max(4, bits))
    (64 / w, w)
  }

  /** SimHash band rows (doc_id, simhash, band, key) under the
    * N-derived [[simhashBandLayout]] — shared by the `simhash_neardup`
    * candidate join and the bench's band-bucket guard.
    */
  private[graft] def simhashBands(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val n = memoizedCount(s, d, "documents_count")(Tables.documents(s, d).count())
    val (bands, w) = simhashBandLayout(n)
    val mask = (1L << w) - 1
    simhashTable(s, d).select(col("doc_id"), col("simhash"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("simhash"), w * b).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "key")))
  }

  /** Candidate near-dup pairs from the persisted band table, with the
    * mega-bucket guard built in: the all-pairs self-join runs only on
    * band keys whose bucket holds at most `cap` docs, and oversized
    * buckets (a boilerplate band key — a certainty at corpus scale)
    * degrade to STAR edges against the bucket's min-doc_id
    * representative instead of the quadratic pair listing. Σ bucket²
    * is thereby bounded by cap × Σ bucket on the pairwise side and the
    * mega side is linear in bucket size, so one degenerate key can no
    * longer blow up every downstream pair consumer (the measured 10×
    * hazard: max bucket 905 → 409k pairs from one key under all-pairs,
    * 904 under the guard). Connectivity is preserved exactly — a star
    * spans the same component the complete graph does — so cluster
    * resolution (dedup_clusters et al.) sees identical components;
    * pairwise verifiers (ngram_jaccard, fuzzy_match) score the star
    * pairs only, which is the declared direct-cluster policy for
    * boilerplate buckets rather than a recall bug: members of a
    * capped bucket share a full MinHash band by construction, and
    * the representative edge carries the verification signal for the
    * bucket. The cap mirrors into [[duckCandidateCtes]] so both
    * engines implement ONE policy at every scale.
    */
  private[queries] def candidatePairs(
      bands: DataFrame, cap: Long = LshBucketCap): DataFrame = {
    val stats = bands.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bn"), min(col("doc_id")).as("rep"))
    val flagged = bands.join(stats, Seq("band", "key"))
    val small = flagged.filter(col("bn") <= cap)
      .select(col("band"), col("key"), col("doc_id"))
    val allPairs = small.as("a")
      .join(small.as("b"), Seq("band", "key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // rep = min(doc_id) of the bucket, so rep < doc_id holds for every
    // emitted star edge and the doc_a < doc_b invariant is preserved
    val megaStars = flagged
      .filter(col("bn") > cap && col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    allPairs.union(megaStars).distinct()
  }

  /** Memoized + persisted distinct candidate pairs over the MinHash
    * band table — the candidate GRAPH every downstream consumer walks
    * (pair listing, cluster resolution, degree diagnostics, sketch
    * estimation, fuzzy verification). Before this was shared, each
    * consumer re-ran the band self-join + distinct shuffle; cluster
    * resolution paid it twice more (once per direction of its
    * symmetrized edge union).
    */
  private[graft] def pairTable(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    memoized(s, d, "candidate_pairs") {
      candidatePairs(bandTable(s, d))
    }

  /** The budgeted verification pair relation: [[pairTable]] capped at
    * [[VerifyDegreeCap]] candidates per doc_a by deterministic md5
    * rank (tie-broken by doc_b; md5 of "a|b" is a pure function of
    * the pair, so Spark and DuckDB rank identically and the selection
    * is stable across reruns and partitionings). The row_number
    * window partitions by doc_a — the heaviest partition is one
    * capped-bucket star rep (≤ a few hundred thousand rows), never a
    * corpus-scale single-task sort.
    */
  private[queries] def verifyPairs(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_a"))
    val w = byDoc
      .orderBy(md5(concat_ws("|", col("doc_a"), col("doc_b"))).asc, col("doc_b").asc)
    // `budgeted` is the honesty column (the same standing rule as
    // triangle_count.capped and jaccard_band_sweep.sampled): true iff
    // doc_a's candidate degree exceeded the budget, i.e. this doc's
    // exact verification is a spot-check of its candidates, not an
    // exhaustive scoring. Both window functions share the doc_a
    // partitioning, so the count rides the row_number exchange+sort —
    // no extra shuffle.
    pairTable(s, d)
      .withColumn("rk", row_number().over(w))
      .withColumn("deg", count(lit(1)).over(byDoc))
      .filter(col("rk") <= VerifyDegreeCap)
      .withColumn("budgeted", col("deg") > VerifyDegreeCap)
      .drop("rk", "deg")
  }

  /** Accessors for [[graft.tools.DedupScaleProbe]] (the tables
    * themselves stay private[queries]).
    */
  private[graft] def probeShingleIds(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = shingleIdTable(s, d)
  private[graft] def probePairTable(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = pairTable(s, d)

  // ---- random-hyperplane LSH (sign of projection) ---------------------

  /** Signature width as a function of corpus size — the knob that keeps
    * multi-probe LSH sub-linear as N grows. Each query probes its own
    * bucket plus the `bits` buckets at Hamming distance 1, so the
    * expected probed fraction is (bits+1)/2^bits: 4 bits → 31%, 6 bits
    * → 11%, 13 bits (N≈260k) → 0.17%, 21 bits (N≈67M) → 0.001%. A
    * fixed width would pin the probed fraction at a constant share of
    * the corpus forever; scaling bits with ceil(log2(N/bucket)) keeps
    * per-bucket work flat while the probed fraction shrinks ~1/N.
    * Clamped to [4, 24]: below 4 bits probing degenerates to a scan,
    * 24 bits (16M buckets) is plenty for any corpus this library will
    * see per partition-group.
    */
  private[graft] def lshBitsFor(n: Long): Int = {
    val buckets = math.max(1L, n / LshTargetBucket)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, buckets - 1))
    math.min(24, math.max(4, bits))
  }

  /** Deterministic pseudo-random hyperplane for signature bit `bit`:
    * each component derives from md5(bit:i) mapped to [-0.5, 0.5).
    * Seeded hashing (not a PRNG) so every executor, run, and the test
    * suite agree on the planes without sharing state.
    */
  private[graft] def hyperplane(bit: Int, dim: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      graft.functions.Hashing.md5UnitFloat(md, s"$bit:$i".getBytes("UTF-8")) - 0.5f
    }
  }

  /** Packed signature: bit r set iff the embedding's projection onto
    * hyperplane r is positive. Near-identical vectors agree on most
    * bits, so they land in the same (or Hamming-adjacent) bucket.
    */
  private[graft] def lshSignature(emb: Column, dim: Int, bits: Int): Column =
    (0 until bits).map { r =>
      val plane = array(hyperplane(r, dim).toIndexedSeq.map(lit(_)): _*)
      when(VecFunctions.vecDot(emb, plane) > 0.0, lit(1 << r)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Embeddings with the vector norm precomputed once per vector. */
  private[queries] def withNorm(e: DataFrame): DataFrame = {
    VecFunctions.register(e.sparkSession)
    e.withColumn("nrm", sqrt(VecFunctions.vecDot(col("embedding"), col("embedding"))))
  }

  /** cosine(a,b) from precomputed norms — same op order as the oracle. */
  private[queries] def cosFromNorms(embA: Column, embB: Column, nrmA: Column, nrmB: Column): Column =
    when(nrmA * nrmB === 0.0, lit(0.0))
      .otherwise(VecFunctions.vecDot(embA, embB) / (nrmA * nrmB))

  /** Label-blocked embedding near-dup pairs (vec_a, vec_b, cos_sim)
    * with cos_sim > 0.8 — the candidate edge set shared by
    * `embedding_neardup` (pair listing) and `semdedup_clusters`
    * (SemDeDup-style cluster resolution). The join is keyed on the
    * cluster label, so pair generation stays per-bucket at scale.
    */
  private[queries] def embNearPairs(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val e = withNorm(Tables.embeddings(s, d))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"), col("label"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
      col("nrm").as("nrm_b"), col("label"))
    a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        rnd(cosFromNorms(col("emb_a"), col("emb_b"), col("nrm_a"), col("nrm_b")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") > 0.8)
  }

  // ---- product quantization (PQ) model --------------------------------

  /** PQ layout: 64-dim vectors → [[PqM]] subspaces of [[PqSubDim]]
    * dims, [[PqK]] codebook entries per subspace (8 B codes per
    * vector, 32× compression vs 256 B of raw floats).
    */
  private[queries] val PqM = 8
  private[queries] val PqSubDim = 8
  private[queries] val PqK = 64

  /** (vec_id, m, sub): each embedding split into its M subvectors. */
  private def pqSubvectors(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    VecFunctions.register(s)
    val subArr = array((0 until PqM).map(m =>
      slice(col("embedding"), m * PqSubDim + 1, PqSubDim)): _*)
    // NULL vectors are unindexable (slice(NULL) would fan out null
    // subvectors and poison the code assignment with NULL distances)
    Tables.embeddings(s, d)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), posexplode(subArr).as(Seq("m", "sub")))
  }

  /** [[pqSubvectors]] with ‖x‖² precomputed once per subvector — the
    * left side of every nearest-centroid assignment.
    */
  private def pqSubX(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    pqSubvectors(s, d)
      .withColumn("xx", VecFunctions.vecDot(col("sub"), col("sub")))

  /** Nearest-codebook-entry assignment, shared by Lloyd training (vs
    * seeds) and final encoding (vs trained centroids) so the distance
    * form (‖x−c‖² as x·x − 2·x·c + c·c, fixed op order) and the code
    * tiebreak can never diverge between them. ‖x‖² and ‖c‖² are
    * precomputed once per subvector/centroid instead of once per
    * (subvector, candidate-code) pair: K× fewer dot products, and
    * bit-identical values (the cached dot is the same left-to-right
    * accumulation the inline form would run), so the oracle's inline
    * formula still matches.
    */
  private def pqAssign(subX: DataFrame, codebook: DataFrame): DataFrame = {
    val d2 = col("xx") -
      lit(2.0) * VecFunctions.vecDot(col("sub"), col("cent")) + col("cc")
    subX.join(
        broadcast(codebook.withColumn("cc", VecFunctions.vecDot(col("cent"), col("cent")))),
        Seq("m"))
      .select(col("vec_id"), col("m"), col("code"), d2.as("d2"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("code"))).getField("code").as("code"))
  }

  /** Memoized trained PQ codebook (code, m, cent) — the model
    * ARTIFACT, not a query subtree: trained once per (session, dir)
    * via one deterministic Lloyd iteration (the [[PqK]] lowest-id
    * vectors seed each subspace, every subvector assigns to its
    * nearest seed, the codebook is the decimal-exact per-dimension
    * mean of each assignment group — data-driven like k-means, but
    * reproducible in any engine, so `knn_pq` keeps a FULL DuckDB
    * oracle). Living in the memoized family (like [[sigTable]]/
    * [[bandTable]]) means re-invocations encode and scan without
    * retraining — at 100 TB the codebook is a persisted model a
    * training job refreshes on its own cadence, never a per-query
    * cost. The bench attributes the one-time build (`cache_builds`)
    * and releases it after its last consumer.
    *
    * Per-dim mean in exact decimal — but floats must be snapped to a
    * 6dp grid (Q.rnd: pure IEEE ops, engine-identical) BEFORE the
    * decimal cast: casting a raw float to decimal rounds Spark's
    * shortest-string representation vs DuckDB's exact expansion, and
    * the two disagree in the last decimal unit often enough to shift
    * a centroid by one float ulp (measured: 9 of 17 elements in one
    * assignment group). Grid points cast identically.
    */
  private[graft] def pqCodebook(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    memoized(s, d, "pq_codebook") {
      val sub = pqSubvectors(s, d)
      val seeds = sub.filter(col("vec_id") < PqK)
        .select(col("vec_id").as("code"), col("m"), col("sub").as("cent"))
      val asg = pqAssign(pqSubX(s, d), seeds)
      sub.join(asg, Seq("vec_id", "m"))
        .select(col("code"), col("m"), posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy(col("code"), col("m"), col("pos"))
        .agg((sum(rnd(col("v").cast("double"), 6).cast("decimal(18,6)"))
          .cast("double") / count(lit(1))).as("cv"))
        .groupBy(col("code"), col("m"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv").cast("float")).as("cent"))
    }

  /** IVF coarse-quantizer fan-out: K cells seeded from the lowest-id
    * vectors (the same deterministic convention as [[pqCodebook]]'s
    * seeds).
    */
  private[queries] val IvfK = 50

  /** Memoized IVF cell assignment (vec_id, cell, d2) — the coarse
    * INDEX artifact, not a query subtree: every embedding assigned to
    * its nearest of [[IvfK]] seeded centroids, with the 6dp-snapped
    * squared distance kept for diagnostics. Shared by `kmeans_assign`
    * (reads the per-cell profile off it) and `knn_ivfpq` (restricts
    * the ADC scan to probed cells) — at 100 TB the cell id is the
    * partition key of the code store, built once per corpus refresh,
    * so per-query re-assignment would be exactly the cost this
    * artifact exists to amortize. Same ‖x−c‖² op order and cell
    * tiebreak as [[pqAssign]]; the broadcast N×K expansion reduces
    * map-side via min(struct) before the single vec_id shuffle.
    */
  /** Broadcast K-centroid table (cell, cent, cc) — ONE builder shared
    * by [[ivfCells]] (assignment) and knn_ivfpq's query probes, so
    * the seeding convention and the precomputed ‖c‖² can never drift
    * between the index and the probe side.
    */
  private def ivfCents(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    VecFunctions.register(s)
    // a NULL vector can seed no centroid: its cc/d2 go NULL for every
    // row and min(struct) (nulls-first) would route the whole corpus
    // into that cell — measured on the null-injected corpus
    broadcast(Tables.embeddings(s, d)
      .filter(col("vec_id") < IvfK && col("embedding").isNotNull)
      .select(col("vec_id").as("cell"), col("embedding").as("cent"))
      .withColumn("cc", VecFunctions.vecDot(col("cent"), col("cent"))))
  }

  private[graft] def ivfCells(
      s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    memoized(s, d, "ivf_cells") {
      VecFunctions.register(s)
      // NULL vectors are unindexable — same convention as the oracle's
      // relational form, where a null vector simply has no dim rows
      val e = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
      val cents = ivfCents(s, d)
      val d2 = col("xx") -
        lit(2.0) * VecFunctions.vecDot(col("embedding"), col("cent")) + col("cc")
      // broadcast pinned HERE as well as inside ivfCents: the K-row
      // centroid table must never fall back to a cartesian shuffle
      // even under a tuned-down autoBroadcastJoinThreshold
      e.withColumn("xx", VecFunctions.vecDot(col("embedding"), col("embedding")))
        .crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cell"), d2.as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cell"))).as("m"))
        .select(col("vec_id"), col("m").getField("cell").as("cell"),
          rnd(col("m").getField("d2"), 6).as("d2"))
    }

  /** Rational mean word length: (chars − separators) / tokens. */
  private[queries] def gopherMeanW(text: Column): Column = {
    val nt = TF.nTokens(text)
    when(nt === 0, lit(0.0))
      .otherwise((length(TF.normText(text)) - (nt - 1)).cast("double") / nt.cast("double"))
  }

  /** Non-overlapping stopword occurrence count over normalized text. */
  private[queries] def gopherStopCnt(text: Column): Column =
    regexp_count(TF.normText(text),
      lit("\\b(" + TF.stopwords.mkString("|") + ")\\b"))

  /** The gopher_filter verdict as one reusable predicate — shared by
    * the filter query (which also reports per-rule flags) and the
    * dataset_card pass-rate so the two can never disagree.
    */
  private[queries] def gopherPass(text: Column): Column = {
    val nt = TF.nTokens(text)
    (nt >= 5 && nt <= 10000) &&
      (gopherMeanW(text) >= 2.0 && gopherMeanW(text) <= 12.0) &&
      (gopherStopCnt(text) >= 1) && (TF.punctRatio(text) <= 0.3)
  }

  /** DuckDB gopher-rule fragments — ONE definition composed by both
    * [[duckGopherPass]] (dataset_card) and the gopher_filter oracle,
    * mirroring the Scala-side sharing of [[gopherMeanW]] etc.
    */
  private[queries] val duckGopherMeanW: String =
    s"(CASE WHEN $NTOK = 0 THEN 0.0 ELSE CAST(length($NORM) - ($NTOK - 1) AS DOUBLE) / $NTOK END)"

  private[queries] val duckGopherPunct: String =
    s"(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END)"

  private[queries] val duckGopherStopCnt: String = {
    val stopPat = "\\b(" + TF.stopwords.mkString("|") + ")\\b"
    s"len(regexp_extract_all($NORM, '$stopPat'))"
  }

  /** DuckDB replica of [[gopherPass]]. */
  private[queries] val duckGopherPass: String =
    s"(($NTOK >= 5 AND $NTOK <= 10000)" +
      s" AND ($duckGopherMeanW >= 2.0 AND $duckGopherMeanW <= 12.0)" +
      s" AND ($duckGopherStopCnt >= 1) AND ($duckGopherPunct <= 0.3))"

  val defs: Map[String, QueryFn] = Map(
    "text_stats" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TF.nTokens($"text")).as("total_tokens"),
          (sum($"n_chars").cast("double") / count(lit(1)).cast("double")).as("avg_chars"),
          min($"n_chars").as("min_chars"),
          max($"n_chars").as("max_chars"))
        .orderBy($"lang".asc_nulls_last)
    }),

    "text_quality" -> ((s, d) => {
      import s.implicits._
      // fan tried and REVERTED (guide §1 re-measure): warm wall
      // 1.7 → 2.3 s, task cpu 1.4 → 58 s (see gopher_filter note)
      Tables.documents(s, d)
        .select($"doc_id",
          length($"text").as("text_len"),
          TF.nTokens($"text").as("n_tokens"),
          rnd(TF.punctRatio($"text"), 4).as("punct_ratio"),
          rnd(TF.stopwordRatio($"text"), 4).as("stopword_ratio"),
          TF.qualityScore($"text").as("quality"))
        .orderBy($"doc_id")
    }),

    "lang_id" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", $"lang",
          TF.langIdHeuristic($"text").as("pred_lang"))
        .orderBy($"doc_id")
    }),

    "token_count" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          TF.nTokens($"text").as("ws_tokens"),
          TF.bpeTokenCount($"text").as("bpe_tokens"))
        .orderBy($"doc_id")
    }),

    "fingerprint" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", TF.fingerprint($"text").as("fp"))
        .orderBy($"doc_id")
    }),

    "exact_dedup" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", TF.fingerprint($"text").as("fp"))
        .groupBy($"fp")
        .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy($"fp")
    }),

    // Blocking-quality evaluation (wave 53, round 12; the standard
    // entity-resolution pair: Christen 2012): how good is the LSH
    // blocking as a CANDIDATE GENERATOR — reduction ratio
    // (1 − |cand| / C(n,2): how much of the quadratic the blocking
    // avoided) and pair completeness (share of TRUE duplicate pairs
    // — exact-fingerprint pairs, the corpus' planted ground truth —
    // that the blocking still covers). The number a dedup stack
    // monitors before trusting its banding parameters at a new
    // corpus mix: rr ≈ 1 with pc ≈ 1 is a healthy block; pc dropping
    // means bands are splitting real duplicates (e.g. sub-3-token
    // docs have no shingles and can never be candidates — visible
    // here, not hidden). Rides the memoized candidate graph
    // ([[pairTable]] — no new pair join); the fingerprint relation
    // is exact_dedup's hash aggregate; |cand ∩ true| is two keyed
    // joins on doc_id against the bounded candidate edge list. The
    // closing row is 1 row of integer counts + two snapped ratios.
    "blocking_quality" -> ((s, d) => {
      import s.implicits._
      val fp = Tables.documents(s, d)
        .select($"doc_id", TF.fingerprint($"text").as("fp"))
      val cand = pairTable(s, d)
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val nc = cand.agg(count(lit(1)).as("n_cand"))
      val tp = fp.groupBy($"fp").agg(count(lit(1)).as("m"))
        .agg(coalesce(sum(expr("m * (m - 1) DIV 2")), lit(0L)).as("n_true"))
      val tic = cand
        .join(fp.select($"doc_id".as("doc_a"), $"fp".as("fp_a")), Seq("doc_a"))
        .join(fp.select($"doc_id".as("doc_b"), $"fp".as("fp_b")), Seq("doc_b"))
        .filter($"fp_a" === $"fp_b")
        .agg(count(lit(1)).as("n_true_in_cand"))
      n.crossJoin(broadcast(nc)).crossJoin(broadcast(tp)).crossJoin(broadcast(tic))
        .select($"n_docs", $"n_cand",
          when($"n_docs" > 1, rnd(lit(1.0) - $"n_cand".cast("double") /
            ($"n_docs".cast("double") * ($"n_docs" - 1).cast("double") / 2.0),
            10)).as("reduction_ratio"),
          $"n_true", $"n_true_in_cand",
          when($"n_true" > 0, rnd($"n_true_in_cand".cast("double") /
            $"n_true".cast("double"), 10)).as("pair_completeness"))
    }),

    // PII redaction — the scrub pass a training-data pipeline runs
    // before anything else persists text. The corpus is synthetic and
    // PII-free, so each doc gets deterministic synthetic PII (derived
    // from doc_id) appended FIRST, then the scrubber redacts emails,
    // IPv4 addresses, and NANP-style numbers — a single codegen'd
    // regexp_replace chain per row, no shuffle, scan-parallel at any
    // scale. Email runs first: its replacement token contains no
    // digits, so later patterns cannot match inside it.
    "pii_scrub" -> ((s, d) => {
      import s.implicits._
      val synth = concat(
        substring($"text", 1, 40),
        lit(" contact user"), $"doc_id".cast("string"),
        lit("@example.com ip 10.0."),
        ($"doc_id" % 256).cast("string"), lit("."),
        (($"doc_id" * 7) % 256).cast("string"),
        lit(" call 555-"), (lit(1000) + $"doc_id" % 9000).cast("string"))
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phone = "\\b555-\\d{4}\\b"
      Tables.documents(s, d)
        .select($"doc_id",
          regexp_replace(
            regexp_replace(
              regexp_replace(synth, email, "<EMAIL>"),
              ip, "<IP>"),
            phone, "<PHONE>").as("scrubbed"))
        .orderBy($"doc_id")
    }),

    // Duplicated-n-gram fraction (MassiveText/Gopher-style repetition
    // filter): the share of a doc's 3-gram occurrences that are
    // repeats. Reads the two memoized shingle tables — the multiset
    // for totals, the distinct view for uniques — so the metric costs
    // two hash aggregates and a keyed join, nothing rescans text. The
    // division is one double op over exact integer counts, identical
    // in any engine.
    "dup_ngram_frac" -> ((s, d) => {
      import s.implicits._
      val tot = shingleTable(s, d).groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shingles"))
      val dis = distinctShingleTable(s, d).groupBy($"doc_id")
        .agg(count(lit(1)).as("n_distinct"))
      tot.join(dis, Seq("doc_id"))
        .select($"doc_id", $"n_shingles", $"n_distinct",
          (($"n_shingles" - $"n_distinct").cast("double") /
            $"n_shingles".cast("double")).as("dup_frac"))
        .orderBy($"doc_id")
    }),

    // Mean corpus-frequency of a doc's tokens — the unigram quality
    // proxy (low = rare/garbled vocabulary, high = stopword soup) a
    // curation run scores without any model. Formulated for EXACT
    // cross-engine arithmetic: per-doc Σ df(term) over occurrences is
    // an integer aggregate, and the mean divides once as doubles —
    // sum_df / (n_tok · n_docs) — so no double-accumulation order can
    // differ. The df table is vocabulary-sized (broadcastable); term
    // rows come from the memoized term relation.
    "unigram_surprise" -> ((s, d) => {
      import s.implicits._
      val terms = termTable(s, d)
      val df_ = terms.select($"doc_id", $"term").distinct()
        .groupBy($"term").agg(count(lit(1)).as("df"))
      val nDocs = terms.agg(countDistinct($"doc_id").as("n_docs"))
      terms.join(broadcast(df_), Seq("term"))
        .groupBy($"doc_id").agg(sum($"df").as("sum_df"), count(lit(1)).as("n_tok"))
        .crossJoin(broadcast(nDocs))
        .select($"doc_id", $"n_tok",
          ($"sum_df".cast("double") /
            ($"n_tok" * $"n_docs").cast("double")).as("mean_df_frac"))
        .orderBy($"doc_id")
    }),

    // Ranked vocabulary with assigned ids — the tokenizer-training
    // step: term/document frequencies from the memoized term relation,
    // top-1000 by frequency (deterministic tiebreak), contiguous ids.
    // The global sort is a TakeOrdered top-k (per-partition heaps);
    // the id-assigning single-partition window runs on the 1000
    // SURVIVORS only — bounded regardless of corpus size.
    "vocab_build" -> ((s, d) => {
      import s.implicits._
      val counts = termTable(s, d)
        .groupBy($"term")
        .agg(count(lit(1)).as("tf"), countDistinct($"doc_id").as("df"))
      val top = counts.orderBy($"tf".desc, $"term").limit(1000)
      val w = graft.operators.BoundedWindow
        .orderBy("vocab_build: top-1000 limit", 1000L, $"tf".desc, $"term")
      top.withColumn("token_id", row_number().over(w).cast("long") - 1)
        .select($"token_id", $"term", $"tf", $"df")
        .orderBy($"token_id")
    }),

    // BPE merge-rule training (Sennrich et al. 2016 — public): the
    // real tokenizer-training step vocab_build stops short of. The
    // corpus collapses to its frequency-weighted word table (top-200
    // by tf, deterministic tiebreak — the ONLY corpus-scale stage;
    // real BPE trains on exactly this word-frequency table, so at
    // 100 TB the iteration runs on a vocabulary-bounded relation no
    // matter the corpus size). Words start as space-joined character
    // symbols with sentinel spaces; each of 5 steps counts adjacent
    // symbol pairs (tf-weighted), picks the argmax (count desc, pair
    // asc), and merges occurrences left-to-right greedily via
    // bpeMergeStep (a string-accumulator fold — exact Sennrich
    // merge-all semantics; a single-pass literal replace would skip
    // every second occurrence of back-to-back pairs because adjacent
    // matches share a sentinel space). Output is the trained
    // artifact: the 5 merge rules. The oracle unrolls the 5
    // iterations as CTE stages (the pagerank_lite precedent) with the
    // same fold via list_reduce.
    "bpe_merges" -> ((s, d) => {
      import s.implicits._
      // The training loop lives in [[bpeTrainedRules]]: 5 argmax jobs
      // over the persisted 200-row word table, each step's winner
      // collected (1 row) and applied as literals. The query surfaces
      // the trained artifact as a flat 5-row relation — downstream
      // consumers (bpeToksTable, bpe_decode) reference these rules as
      // literals, so no plan ever embeds the training lineage.
      bpeTrainedRules(s, d).toDF("step", "a", "b", "cnt").orderBy($"step")
    }),

    // BPE ENCODING with the trained rules — the apply half of the
    // bpe_merges train/apply pair (vocab_build→tokenizer_apply's
    // shape). The encoded-token table ([[bpeToksTable]]: the 5 merge
    // rules pivoted to one broadcast row, each token's character
    // symbols re-derived and merged in training order as 5 chained
    // greedy folds) is memoized and shared with bpe_decode — one
    // projection, no shuffle until the per-doc aggregate. Output is
    // the per-doc compression audit (char symbols vs BPE symbols),
    // the number a tokenizer team actually tracks. Each fold merges
    // occurrences left-to-right exactly as training did, so apply is
    // consistent with train.
    "bpe_apply" -> ((s, d) => {
      import s.implicits._
      bpeToksTable(s, d)
        .select($"doc_id", length($"tok").as("n_char"),
          (size(split($"sym", " ")) - 2).cast("long").as("n_sym"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum($"n_char").as("char_symbols"),
          sum($"n_sym").as("bpe_symbols"))
        .select($"doc_id", $"n_tokens", $"char_symbols", $"bpe_symbols",
          ($"bpe_symbols".cast("double") / $"char_symbols".cast("double"))
            .as("compression"))
        .orderBy($"doc_id")
    }),

    // BPE DECODE — the ids→text inverse that closes the tokenizer
    // round-trip (train → encode → ids → decode). The id vocabulary is
    // the sorted distinct symbol set of the trained top-200 word table
    // after all 5 merges (position in the sorted array IS the id,
    // 1-based); encoding maps each token's merged symbols (read from
    // the memoized [[bpeToksTable]], shared with bpe_apply) to ids via
    // array_position, decoding maps ids back through the same array
    // and re-concatenates. OOV symbols (characters outside the trained
    // vocabulary) decode to '<unk>' and are counted per doc, so
    // `decoded == normalized text` exactly when n_oov = 0 — the
    // round-trip invariant Round11Spec pins. Plan shape: the one-row
    // vocab array broadcasts onto the cached encoded-token rows; the
    // id lookup and decode are per-row array HOFs, then ONE per-doc
    // aggregate reassembles documents in token order (sort_array over
    // (ordinal, token) structs — per-doc row width, same bound as the
    // winnow sketch). Scan-proportional at any corpus size.
    "bpe_decode" -> ((s, d) => {
      import s.implicits._
      val rules = bpeTrainedRules(s, d) // (step, a, b, cnt), ≤5 driver values
      val mergedVocab = rules.foldLeft($"sym".as("sym")) { case (e, (_, a, b, _)) =>
        bpeMergeStep(e, lit(a), lit(b))
      }
      // id→symbol array: distinct symbols of the fully-merged word
      // table, sorted ([a-z0-9] only, so Spark and DuckDB collate
      // identically); ≤ ~50 entries, broadcast as a single row
      val vocabRow = broadcast(
        bpeWordTable(s, d)
          .select(explode(
            filter(split(mergedVocab, " "), x => x =!= "")).as("sy"))
          .agg(array_sort(collect_set($"sy")).as("syms")))
      bpeToksTable(s, d).crossJoin(vocabRow)
        .select($"doc_id", $"i",
          transform(filter(split($"sym", " "), x => x =!= ""),
            x => nullif(array_position($"syms", x), lit(0L))).as("ids"),
          $"syms")
        .select($"doc_id", $"i",
          size($"ids").cast("long").as("n_sym"),
          size(filter($"ids", v => v.isNull)).cast("long").as("n_oov_t"),
          array_join(transform($"ids", v =>
            coalesce(element_at($"syms", v.cast("int")), lit("<unk>"))),
            "").as("dtok"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum($"n_sym").as("n_syms"),
          sum($"n_oov_t").as("n_oov"),
          array_join(transform(
            array_sort(collect_list(struct($"i", $"dtok"))),
            st => st.getField("dtok")), " ").as("decoded"))
        .orderBy($"doc_id")
    }),

    // Bigram language-model estimation: adjacent-token pairs via an
    // index explode over the token array (scan-parallel, no join to
    // build pairs), then two hash aggregates; the conditional
    // probability P(w2|w1) = c12/c1 is one double division over exact
    // integer counts. Top-200 bigrams by count — a TakeOrdered top-k,
    // not a global sort.
    "bigram_lm" -> ((s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", TF.tokens($"text").as("w"))
        .filter(size($"w") >= 2)
      val pairs = toks
        .select(explode(sequence(lit(1), size($"w") - 1)).as("i"), $"w")
        .select(element_at($"w", $"i").as("w1"), element_at($"w", $"i" + 1).as("w2"))
      val c12 = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      // c1 folds from the bigram counts (Σ c12 per w1) — |bigram types|
      // input rows instead of a second tokenize+explode pass over the
      // corpus; exact same integers as counting pairs directly
      val c1 = c12.groupBy($"w1").agg(sum($"c12").as("c1"))
      c12.join(c1, Seq("w1"))
        .select($"w1", $"w2", $"c12", $"c1",
          ($"c12".cast("double") / $"c1".cast("double")).as("p"))
        .orderBy($"c12".desc, $"w1", $"w2")
        .limit(200)
    }),

    // LM-typicality document scoring — the perplexity-filter analog
    // (CCNet-style: score every doc under a corpus LM, gate on the
    // score) restated without transcendentals so the whole operator
    // keeps an exact DuckDB oracle: per doc, the mean and minimum of
    // its bigrams' corpus-LM probabilities p(w2|w1) = c12/c1. Low
    // mean_p = the doc's transitions are rare corpus-wide (gibberish,
    // boilerplate soup, wrong-language fragments); min_p = its single
    // most surprising transition. Every doc bigram exists in the LM
    // by construction (the LM is built from the same corpus), so
    // there is no OOV path. Scale: the LM is |bigram types| (vocab²-
    // bounded, far smaller than the corpus); doc bigrams and LM
    // co-partition on (w1,w2) — the same shuffle key the LM aggregate
    // itself uses, so Catalyst reuses one exchange for both the count
    // and the probability join; per-doc reduction then shuffles once
    // on doc_id. Determinism: p is one IEEE division of exact
    // integers; the per-doc mean sums 6dp-snapped p as decimal
    // (order-free) and divides once; min is order-free.
    // Good-Turing frequency-of-frequencies table over the term
    // counts: N_r = #types seen r times, and the GT-adjusted count
    // r* = (r+1)·N_{r+1}/N_r for the 20 SMALLEST observed r — the
    // smoothing-mass diagnostic (unseen-event mass is N_1/N when
    // r=1 is observed). A literal "r <= 20" cutoff goes vacuously
    // empty on a head-heavy fixture whose rarest term still appears
    // dozens of times (the spec caught exactly that); the lowest-20
    // form is non-empty at every scale. Two nested aggregates over
    // the memoized term relation; the N_{r+1} lookup is a sparse
    // self-join (lag() would be wrong — r+1 may be absent → NULL
    // r*), and the lowest-20 cut is a TakeOrdered.
    "good_turing" -> ((s, d) => {
      import s.implicits._
      val tf = termTable(s, d).groupBy($"term").agg(count(lit(1)).as("r"))
      val fof = tf.groupBy($"r").agg(count(lit(1)).as("n_r"))
      val next = fof.select(($"r" - 1).as("r"), $"n_r".as("n_r1"))
      fof.join(next, Seq("r"), "left")
        .select($"r", $"n_r",
          rnd(($"r" + 1).cast("double") * $"n_r1".cast("double")
            / $"n_r".cast("double"), 6).as("r_star"))
        .orderBy($"r")
        .limit(20)
    }),

    // Interpolated Kneser-Ney bigram smoothing (D = 0.75) — the
    // canonical LM smoother, closing the lm family (MLE bigram_lm,
    // typicality lm_score, stupid-backoff lm_backoff_score):
    // p_kn(w2|w1) = max(c12−D,0)/c1 + D·N1+(w1,·)/c1 · N1+(·,w2)/N1+(··).
    // Every ingredient is an integer count off the ONE aggregated
    // bigram-type relation (marginals and continuation counts are
    // windows over it, not corpus re-scans; the bigram-type total is
    // a broadcast 1-row aggregate), and the closing formula is one
    // fixed IEEE sequence — exact cross-engine. Top-50 by raw count
    // is a TakeOrdered.
    "kneser_ney_lm" -> ((s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(TF.tokens($"text").as("w")).filter(size($"w") >= 2)
      val pairs = toks
        .select(explode(sequence(lit(1), size($"w") - 1)).as("i"), $"w")
        .select(element_at($"w", $"i").as("w1"), element_at($"w", $"i" + 1).as("w2"))
      val c12 = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      val e = c12
        .withColumn("c1", sum($"c12").over(Window.partitionBy($"w1")))
        .withColumn("n1fw", count(lit(1)).over(Window.partitionBy($"w1")))
        .withColumn("ncw2", count(lit(1)).over(Window.partitionBy($"w2")))
      val tot = c12.agg(count(lit(1)).as("nbb"))
      e.crossJoin(broadcast(tot))
        .select($"w1", $"w2", $"c12",
          rnd(greatest($"c12".cast("double") - 0.75, lit(0.0))
            / $"c1".cast("double")
            + (lit(0.75) * $"n1fw".cast("double") / $"c1".cast("double"))
              * ($"ncw2".cast("double") / $"nbb".cast("double")), 6)
            .as("p_kn"))
        .orderBy($"c12".desc, $"w1", $"w2")
        .limit(50)
    }),

    "lm_score" -> ((s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", TF.tokens($"text").as("w"))
        .filter(size($"w") >= 2)
      val pairs = toks
        .select($"doc_id", explode(sequence(lit(1), size($"w") - 1)).as("i"), $"w")
        .select($"doc_id",
          element_at($"w", $"i").as("w1"), element_at($"w", $"i" + 1).as("w2"))
      val c12 = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      // c1 as a window sum OVER the bigram counts (not a groupBy +
      // self-join): the join formulation re-plans the whole
      // tokenize→count subtree on its second reference inside the
      // broadcast stage (a third corpus scan); the window touches only
      // the |bigram types| rows already aggregated — same exact
      // integers, one corpus scan for the LM
      val lm = c12
        .withColumn("c1", sum($"c12").over(Window.partitionBy($"w1")))
        .select($"w1", $"w2",
          ($"c12".cast("double") / $"c1".cast("double")).as("p"))
      // the LM side broadcasts, NEVER the pairs side: left to its size
      // estimates Catalyst picks the raw pairs relation as the build
      // side here (it looks smaller pre-aggregation), which at corpus
      // scale would ship every bigram occurrence to every executor —
      // the LM is the |bigram types|-bounded relation this join exists
      // to probe
      pairs.join(broadcast(lm), Seq("w1", "w2"))
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          (sum(rnd($"p", 6).cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("mean_p"),
          min(rnd($"p", 6)).as("min_p"))
        .orderBy($"doc_id")
    }),

    // MinHash + LSH over the persisted signature table; docs sharing a
    // band key become candidate pairs via a keyed self-join.
    "minhash_dedup" -> ((s, d) => {
      import s.implicits._
      pairTable(s, d).orderBy($"doc_a", $"doc_b")
    }),

    // SimHash (64-bit) over shingle md5s; hex digits decoded via
    // ascii() arithmetic (codegen'd), oracle decodes via strpos —
    // identical integer results.
    "simhash" -> ((s, d) => {
      import s.implicits._
      simhashTable(s, d).orderBy($"doc_id")
    }),

    // SimHash near-dup pairing — the dedup use of the signature: the
    // 64 bits split into ≥ 4 bands under the N-derived layout
    // (simhashBandLayout); any pair within Hamming distance 3 differs
    // in at most 3 bands (pigeonhole), so the keyed band self-join is
    // a COMPLETE candidate generator (no cross join), and bit_count of
    // the xor verifies exactly — the result is layout-independent, so
    // the oracle's static 4×16 banding produces identical rows.
    // Shift + mask keeps the sign-bit band a plain non-negative key.
    "simhash_neardup" -> ((s, d) => {
      import s.implicits._
      val bands = simhashBands(s, d)
      bands.as("a")
        .join(bands.as("b"), Seq("band", "key"))
        .filter($"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
          bit_count($"a.simhash".bitwiseXOR($"b.simhash")).as("hamming"))
        .distinct()
        .filter($"hamming" <= 3)
        .orderBy($"doc_a", $"doc_b")
    }),

    // Jaccard verification of the LSH candidates over 3-gram shingle
    // sets — the classic candidate→verify near-dup pipeline, kept fully
    // relational: shingles stay ROWS (never collect_set arrays), the
    // intersection is a count over co-occurring shingle rows, and set
    // sizes join in as per-doc scalars. The array formulation shipped
    // both docs' complete shingle sets through two shuffles and
    // intersected them with interpreted higher-order functions; this
    // shape shuffles only (pair, shingle) rows and stays codegen'd —
    // the payload per row is O(1) regardless of document length, which
    // is what survives 100 TB.
    "ngram_jaccard" -> ((s, d) => {
      import s.implicits._
      // dictionary-encoded shingles (see shingleIdTable): the
      // Σ_pairs |shingles| intermediate below shuffles 8-byte sids,
      // not shingle text — the round-13 100× disk-exhaustion fix.
      // Budgeted pairs (see VerifyDegreeCap): the round-14 100× sweep
      // exhausted disk AGAIN on the id-encoded rows because the pair
      // count itself grew super-linearly; the per-doc verification
      // budget makes this intermediate linear in corpus size.
      val dsh = shingleIdTable(s, d)
      val sizes = dsh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val cand = verifyPairs(s, d)
      // `budgeted` (the verifyPairs honesty flag) is constant per
      // (doc_a, doc_b), so grouping by it adds no cardinality — it
      // just rides the aggregate into the output
      val inter = cand
        .join(dsh.select($"doc_id".as("doc_a"), $"sid"), Seq("doc_a"))
        .join(dsh.select($"doc_id".as("doc_b"), $"sid"), Seq("doc_b", "sid"))
        .groupBy($"doc_a", $"doc_b", $"budgeted").agg(count(lit(1)).as("n_int"))
      // zero-intersection candidates drop out of `inter`, which is fine:
      // jacc = 0 can never pass the >= 0.4 verification threshold
      inter
        .join(sizes.select($"doc_id".as("doc_a"), $"n_sh".as("n_a")), Seq("doc_a"))
        .join(sizes.select($"doc_id".as("doc_b"), $"n_sh".as("n_b")), Seq("doc_b"))
        .select($"doc_a", $"doc_b",
          ($"n_int".cast("double") / ($"n_a" + $"n_b" - $"n_int").cast("double")).as("jacc"),
          $"budgeted")
        .filter($"jacc" >= 0.4)
        .orderBy($"doc_a", $"doc_b")
    }),

    // Sketch-based Jaccard ESTIMATE for the candidate pairs: fraction
    // of the 8 MinHash permutations that agree — the number a
    // production dedup uses to skip exact verification when the sketch
    // is decisive. Reads the persisted signature table; no shingle
    // payloads move.
    "minhash_est" -> ((s, d) => {
      import s.implicits._
      val sigs = sigTable(s, d)
      val cand = pairTable(s, d)
      val sigA = sigs.select((col("doc_id").as("doc_a") +:
        (0 until 8).map(i => col(s"p$i").as(s"a$i"))): _*)
      val sigB = sigs.select((col("doc_id").as("doc_b") +:
        (0 until 8).map(i => col(s"p$i").as(s"b$i"))): _*)
      cand.join(sigA, Seq("doc_a")).join(sigB, Seq("doc_b"))
        .select($"doc_a", $"doc_b",
          ((0 until 8).map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
            .reduce(_ + _) / 8.0).as("est_jaccard"))
        .orderBy($"doc_a", $"doc_b")
    }),

    // b-bit MinHash (Li & König 2010 — public), b=1: keep only the
    // lowest bit of each of the 8 permutation minima and estimate
    // similarity from bit agreement with the debiased 2·(A/8) − 1.
    // The point at 100 TB is STORAGE: a 1-bit signature is 1/32 the
    // sketch store of the 8-hex-char minima, and the estimate rides
    // the same candidate pairs with one integer-compare per
    // permutation. Reads the memoized signature table; exact
    // multiples of 0.25, so no rounding is needed for oracle parity.
    "minhash_b_bit" -> ((s, d) => {
      import s.implicits._
      val sigs = sigTable(s, d)
      def bit(c: org.apache.spark.sql.Column) =
        conv(substring(c, 8, 1), 16, 10).cast("long") % 2
      val sigA = sigs.select((col("doc_id").as("doc_a") +:
        (0 until 8).map(i => bit(col(s"p$i")).as(s"a$i"))): _*)
      val sigB = sigs.select((col("doc_id").as("doc_b") +:
        (0 until 8).map(i => bit(col(s"p$i")).as(s"b$i"))): _*)
      pairTable(s, d).join(sigA, Seq("doc_a")).join(sigB, Seq("doc_b"))
        .select($"doc_a", $"doc_b",
          (0 until 8).map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
            .reduce(_ + _).as("bits_agree"))
        .select($"doc_a", $"doc_b", $"bits_agree",
          (($"bits_agree".cast("double") / 8.0) * 2.0 - 1.0).as("est_1bit"))
        .orderBy($"doc_a", $"doc_b")
    }),

    // Fellegi-Sunter record-linkage scoring (wave 51, F&S 1969) over
    // the LSH-blocked candidate pairs: per field (lang, source,
    // length-within-10%) an agreement indicator contributes
    // ln(m/u) on agree and ln((1−m)/(1−u)) on disagree, with
    // assessor-set (m, u) literals — the probabilistic-linkage layer
    // between fuzzy_match's edit distance and golden_record's
    // survivorship. Blocking bounds the pair relation; the score is
    // a fixed-order sum of SHARED literal doubles (computed once in
    // Scala, shortest-round-trip text in the oracle), so no ln runs
    // at query time in either engine and no snap is needed.
    "fs_linkage" -> ((s, d) => {
      import s.implicits._
      val meta = Tables.documents(s, d)
        .select($"doc_id", $"lang", $"source", $"n_chars")
      pairTable(s, d)
        .join(meta.select($"doc_id".as("doc_a"), $"lang".as("lang_a"),
          $"source".as("src_a"), $"n_chars".as("len_a")), Seq("doc_a"))
        .join(meta.select($"doc_id".as("doc_b"), $"lang".as("lang_b"),
          $"source".as("src_b"), $"n_chars".as("len_b")), Seq("doc_b"))
        .select($"doc_a", $"doc_b",
          ($"lang_a" <=> $"lang_b").as("a_lang"),
          ($"src_a" <=> $"src_b").as("a_source"),
          coalesce(abs($"len_a" - $"len_b") * 10 <=
            greatest($"len_a", $"len_b"), lit(false)).as("a_len"))
        .select($"doc_a", $"doc_b", $"a_lang", $"a_source", $"a_len",
          (when($"a_lang", lit(FsWeights(0)._1))
            .otherwise(lit(FsWeights(0)._2))
            + when($"a_source", lit(FsWeights(1)._1))
              .otherwise(lit(FsWeights(1)._2))
            + when($"a_len", lit(FsWeights(2)._1))
              .otherwise(lit(FsWeights(2)._2))).as("score"))
        .withColumn("cls",
          when($"score" >= FsMatchThr, lit("match"))
            .when($"score" >= 0.0, lit("possible"))
            .otherwise(lit("non_match")))
        .orderBy($"score".desc, $"doc_a", $"doc_b")
    }),

    // Fuzzy matching: exact Levenshtein on normalized 40-char
    // prefixes, but ONLY over the LSH-blocked candidate pairs — the
    // edit-distance verify step of a fuzzy-dedup pipeline. Blocking is
    // what makes O(len²)-per-pair affordable: the quadratic work runs
    // on ~|candidates|, never |corpus|².
    "fuzzy_match" -> ((s, d) => {
      import s.implicits._
      // localCheckpoint pins the prefix computation at PER-DOC
      // cardinality: without the barrier the normalization regex
      // migrated into the per-pair join stage and re-normalized FULL
      // texts once per candidate pair — measured 14,937 cpu-s (689 s
      // wall) on the 10× long-doc sweep corpus vs seconds per-doc.
      // The checkpointed table is (doc_id, 40 chars): ~50 B/doc at
      // any corpus size.
      val docs = Tables.documents(s, d)
        .select($"doc_id", substring(TF.normText($"text"), 1, 40).as("t"))
        .localCheckpoint()
      val cand = pairTable(s, d)
      cand
        .join(docs.select($"doc_id".as("doc_a"), $"t".as("t_a")), Seq("doc_a"))
        .join(docs.select($"doc_id".as("doc_b"), $"t".as("t_b")), Seq("doc_b"))
        .select($"doc_a", $"doc_b", levenshtein($"t_a", $"t_b").as("edit_dist"))
        .filter($"edit_dist" <= 10)
        .orderBy($"doc_a", $"doc_b")
    }),

    // Embedding near-dup pairs, blocked by cluster label: the join is
    // keyed (label equi-join) so pair generation is per-bucket — the
    // pattern that survives 100 TB where a global cross join cannot.
    "embedding_neardup" -> ((s, d) => {
      import s.implicits._
      embNearPairs(s, d)
        .orderBy($"vec_a", $"vec_b")
    }),

    // Exact brute-force kNN baseline: bounded query set (100 vectors)
    // broadcast against the full corpus.
    "knn_bruteforce" -> ((s, d) => {
      import s.implicits._
      val e = withNorm(Tables.embeddings(s, d))
      val q = broadcast(e.filter($"vec_id" < 100)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm")))
      val w = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id")
      q.join(e, $"q_id" =!= $"vec_id")
        .select($"q_id", $"vec_id",
          rnd(cosFromNorms($"q_emb", $"embedding", $"q_nrm", $"nrm"), 6).as("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"q_id", $"vec_id".as("neighbor_id"), $"rn", $"cos_sim")
        .orderBy($"q_id", $"rn")
    }),

    // IVF-style scale path with the label column as the coarse
    // quantizer (nprobe=1): candidate set shrinks by the bucket count,
    // and the join is a keyed equi-join instead of a cross join.
    "cosine_topk" -> ((s, d) => {
      import s.implicits._
      val e = withNorm(Tables.embeddings(s, d))
      val q = broadcast(e.filter($"vec_id" < 100)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm"), $"label"))
      val w = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id")
      q.join(e, Seq("label"))
        .filter($"q_id" =!= $"vec_id")
        .select($"q_id", $"vec_id",
          rnd(cosFromNorms($"q_emb", $"embedding", $"q_nrm", $"nrm"), 6).as("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"q_id", $"vec_id".as("neighbor_id"), $"rn", $"cos_sim")
        .orderBy($"q_id", $"rn")
    }),

    // IVF with *computed* centroids (k-means assignment step): exact
    // per-dimension means per bucket (decimal-summed → deterministic),
    // probe the nprobe=2 nearest centroids per query, search only
    // those buckets. Approximate vs the true top-k but DETERMINISTIC,
    // so it has a full DuckDB oracle (centroid math replayed exactly);
    // ScalaTest additionally checks recall@5 against knn_bruteforce.
    "knn_ivf" -> ((s, d) => {
      import s.implicits._
      val e = withNorm(Tables.embeddings(s, d))
      val centroids = broadcast(
        e.select($"label", posexplode($"embedding").as(Seq("pos", "v")))
          .groupBy($"label", $"pos")
          .agg((sum($"v".cast("decimal(18,8)")).cast("double") / count(lit(1))).as("cv"))
          .groupBy($"label")
          .agg(transform(array_sort(collect_list(struct($"pos", $"cv"))),
            x => x.getField("cv").cast("float")).as("cent")))
        .withColumn("cnrm", sqrt(VecFunctions.vecDot($"cent", $"cent")))
      val q = e.filter($"vec_id" < 100)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm"))
      val wc = Window.partitionBy($"q_id").orderBy($"cent_sim".desc, $"label")
      val probes = q.join(centroids)
        .select($"q_id", $"q_emb", $"q_nrm", $"label",
          cosFromNorms($"q_emb", $"cent", $"q_nrm", $"cnrm").as("cent_sim"))
        .withColumn("cr", row_number().over(wc))
        .filter($"cr" <= 2)
        .select($"q_id", $"q_emb", $"q_nrm", $"label")
      val w = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id")
      broadcast(probes).join(e, Seq("label"))
        .filter($"q_id" =!= $"vec_id")
        .select($"q_id", $"vec_id",
          rnd(cosFromNorms($"q_emb", $"embedding", $"q_nrm", $"nrm"), 6).as("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"q_id", $"vec_id".as("neighbor_id"), $"rn", $"cos_sim")
        .orderBy($"q_id", $"rn")
    }),

    // Random-hyperplane LSH ANN — the second bucketed scale path next
    // to IVF: signatures partition the corpus into 2^bits buckets, each
    // query multi-probes its own bucket plus the `bits` at Hamming
    // distance 1, and the join is a keyed equi-join on the signature.
    // `bits` scales with the corpus (see lshBitsFor) so the probed
    // fraction shrinks as N grows instead of staying a constant share.
    // Exact *within* the probed buckets and fully deterministic given
    // the seeded hyperplanes → full DuckDB oracle (planes regenerated
    // from the same md5 mapping); QueriesSpec additionally pins bucket
    // discipline, in-bucket completeness and ranking.
    "knn_lsh" -> ((s, d) => {
      import s.implicits._
      val dim = 64 // testdata embedding dimension (FIXTURES.md)
      // corpus count drives the signature width — memoized per
      // (session, dir) so repeat invocations don't re-run the
      // parquet-metadata job (the production analog of table stats)
      val bits = lshBitsFor(
        memoizedCount(s, d, "embeddings_count")(Tables.embeddings(s, d).count()))
      val e = withNorm(Tables.embeddings(s, d))
        .withColumn("sig", lshSignature($"embedding", dim, bits))
      val probeSigs = array((Seq(0) ++ (0 until bits).map(1 << _))
        .map(m => $"sig".bitwiseXOR(lit(m))): _*)
      val q = broadcast(e.filter($"vec_id" < 100)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm"),
          explode(probeSigs).as("probe")))
      val w = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id")
      q.join(e, $"probe" === $"sig")
        .filter($"q_id" =!= $"vec_id")
        .select($"q_id", $"vec_id",
          rnd(cosFromNorms($"q_emb", $"embedding", $"q_nrm", $"nrm"), 6).as("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"q_id", $"vec_id".as("neighbor_id"), $"rn", $"cos_sim")
        .orderBy($"q_id", $"rn")
    }),

    // Product quantization (PQ) ANN — the memory-compression scale
    // path: each 64-float vector (256 B) encodes as 8 subspace codes
    // (8 B, 32× compression), and queries score the compressed corpus
    // by ADC (asymmetric distance computation) — one 8×K lookup table
    // per query, built once, then the scan touches only codes. This is
    // what makes exhaustive search affordable when 100 TB of raw
    // embeddings won't fit executor memory but their codes will.
    // Codebooks come from the memoized [[pqCodebook]] model artifact
    // (deterministic seeded-Lloyd training, full DuckDB oracle) —
    // trained once per (session, dir), so re-invocations encode and
    // scan without paying the training scan. (Label-mean codebooks
    // were tried first: same-label vectors collapsed to identical
    // codes and recall@5 vs the exact dot-product top-5 was 0.13;
    // seeded-Lloyd codebooks reach ~0.39 at both sf0.001 and sf0.01.)
    // The ADC score approximates the dot product Σ_m q_m·c_{code_m};
    // the final Σ over the 8 subspaces pivots to fixed columns so the
    // IEEE addition order is engine-identical. QueriesSpec pins the
    // recall floor and ranking discipline.
    "knn_pq" -> ((s, d) => {
      import s.implicits._
      VecFunctions.register(s)
      val cb = pqCodebook(s, d)
      val enc = pqAssign(pqSubX(s, d), cb)
      // ADC table: per (query, subspace, code) partial dot product —
      // Q·M·K rows, materialized once for the join below (the
      // codebook behind it is already cached, so this is a flat scan
      // of 100 query vectors)
      val subArr = array((0 until PqM).map(m =>
        slice($"embedding", m * PqSubDim + 1, PqSubDim)): _*)
      val qtab = Tables.embeddings(s, d)
        .filter($"vec_id" < 100 && $"embedding".isNotNull)
        .select($"vec_id".as("q_id"), posexplode(subArr).as(Seq("m", "qsub")))
        .join(broadcast(cb), Seq("m"))
        .select($"q_id", $"m", $"code", VecFunctions.vecDot($"qsub", $"cent").as("pdot"))
        .localCheckpoint()
      // ADC scan: one broadcast of the lookup table against the code
      // rows, then the per-(query, vector) score re-assembles through
      // a map-side-combined aggregate pivoting the 8 partial dots to
      // fixed columns (engine-identical IEEE addition order). An
      // 8-way broadcast-join-per-subspace variant was measured slower
      // here: per-branch job/broadcast overhead beat the aggregate it
      // saved.
      val ps = (0 until PqM).map(m => max(when($"m" === m, $"pdot")).as(s"p$m"))
      val w = Window.partitionBy($"q_id").orderBy($"score".desc, $"vec_id")
      enc.join(broadcast(qtab), Seq("m", "code"))
        .filter($"q_id" =!= $"vec_id")
        .groupBy($"q_id", $"vec_id")
        .agg(ps.head, ps.tail: _*)
        .select($"q_id", $"vec_id",
          rnd((0 until PqM).map(m => col(s"p$m")).reduce(_ + _), 6).as("score"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"q_id", $"vec_id".as("neighbor_id"), $"rn", $"score")
        .orderBy($"q_id", $"rn")
    }),

    // The IVF coarse quantizer as a first-class operator: the
    // per-cluster profile (size, mean squared distance) a partitioned
    // ANN index build or a clustering-health check reads — computed
    // off the memoized [[ivfCells]] index artifact (one Lloyd
    // assignment of every embedding to K=50 seeded centroids, shared
    // with knn_ivfpq), so repeat invocations profile the index
    // instead of re-assigning the corpus. The assignment itself:
    // K centroids broadcast, N×K narrow expansion reduced map-side by
    // the min-struct aggregate, one corpus scan. Determinism: same
    // ‖x−c‖² op order and cluster-id tiebreak as [[pqAssign]];
    // per-cluster mean sums 6dp-snapped distances as decimal
    // (order-free) and divides once.
    "kmeans_assign" -> ((s, d) => {
      import s.implicits._
      ivfCells(s, d)
        .select($"cell".as("cluster_id"), $"d2")
        .groupBy($"cluster_id")
        .agg(
          count(lit(1)).as("n_vecs"),
          (sum($"d2".cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("mean_d2"))
        .orderBy($"cluster_id")
    }),

    // Fixed-size token chunking with overlap — the doc→training-sample
    // splitter every pretraining pipeline runs before packing: 32-token
    // windows at stride 24 (8-token overlap). sequence+explode+slice is
    // a narrow per-row expansion (no shuffle, no UDF, codegen'd); tail
    // windows that would add no new tokens beyond the previous chunk
    // are dropped. The chunk text itself ships as the payload — at
    // scale this is the one op whose output is legitimately larger
    // than its input, which is why it must stay scan-parallel.
    "doc_chunk" -> ((s, d) => {
      import s.implicits._
      val CHUNK = 32
      val STRIDE = 24
      Tables.documents(s, d)
        .select($"doc_id", TF.normText($"text").as("nt"))
        .filter(length($"nt") > 0)
        .select($"doc_id", split($"nt", " ").as("w"))
        .select($"doc_id", $"w",
          explode(sequence(lit(0), size($"w") - 1, lit(STRIDE))).as("start"))
        .filter($"start" === 0 || size($"w") - $"start" > (CHUNK - STRIDE))
        .select($"doc_id",
          ($"start" / STRIDE).cast("long").as("chunk_id"),
          array_join(slice($"w", $"start" + 1, lit(CHUNK)), " ").as("chunk"),
          least(lit(CHUNK), size($"w") - $"start").cast("long").as("n_tokens"))
        .orderBy($"doc_id", $"chunk_id")
    }),

    // The higher-order-function surface (§2.8/2.9) declared as a
    // query: lambda transforms/filters/folds over array columns —
    // filter + size, a left-fold aggregate (same left-to-right double
    // accumulation as FloatVecDot, per its bit-identity note),
    // zip_with for the elementwise product, transform + array_max.
    // These are the composable array primitives; the hot-path vector
    // math uses the codegen'd vec_dot instead (HOFs evaluate
    // interpreted) — this entry declares capability, not the fast
    // path.
    "hof_funcs" -> ((s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .select($"vec_id",
          size(filter($"embedding", x => x > lit(0f))).cast("long").as("n_pos"),
          rnd(aggregate($"embedding", lit(0.0), (acc, x) => acc + x.cast("double")), 6)
            .as("sum_all"),
          rnd(aggregate(zip_with($"embedding", $"embedding",
            (a, b) => a.cast("double") * b.cast("double")),
            lit(0.0), (acc, x) => acc + x), 6).as("norm2"),
          array_max(transform($"embedding", x => abs(x))).cast("double").as("max_abs"))
        .orderBy($"vec_id")
    }),

    // Multimodal column plumbing: binary payload + typed metadata
    // extraction (decode itself is stubbed deterministically here;
    // image_decode_stats below runs a real decode).
    "multimodal_meta" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          octet_length($"text").as("n_bytes"),
          md5($"text".cast("binary")).as("checksum"),
          (octet_length($"text") % 640 + 1).as("width"),
          ($"n_chars" % 480 + 1).as("height"),
          when(octet_length($"text") % 3 === 0, "png")
            .when(octet_length($"text") % 3 === 1, "jpg")
            .otherwise("webp").as("fmt"))
        .orderBy($"doc_id")
    }),

    // REAL image codec round-trip, driver-oracled: each doc gets a
    // deterministic solid-color 8×6 PNG (channel values derived from
    // doc_id), ENCODED and then DECODED through javax.imageio on the
    // executors in a mapPartitions batch (one ImageIO setup per
    // partition) — and because a solid-color image's channel means ARE
    // its color, the oracle recomputes every output by arithmetic
    // alone. A broken reader (wrong dims, channel order, color
    // management) hash-mismatches in the driver's correctness file
    // instead of hiding behind a spec. Scan-parallel; the only
    // shuffle is the final ORDER BY.
    "image_decode_stats" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select($"doc_id").as[Long]
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false) // once per partition
          it.map { id =>
            val (w, h) = (8, 6)
            // floorMod: channels stay 0..255 for negative doc_ids too
            // (the oracle mirrors with ((x % 256) + 256) % 256)
            def ch(m: Long) = java.lang.Math.floorMod(id * m, 256L).toInt
            val rgb = ch(37) << 16 | ch(57) << 8 | ch(77)
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            (id, bos.toByteArray)
          }
        }
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, bytes) =>
            // the REAL decode under test
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            val (w, h) = (img.getWidth, img.getHeight)
            var (sr, sg, sb) = (0L, 0L, 0L)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
                x += 1
              }
              y += 1
            }
            val n = (w * h).toLong
            (id, bytes.length.toLong, w.toLong, h.toLong, sr / n, sg / n, sb / n)
          }
        }
        .toDF("doc_id", "n_png_bytes", "width", "height", "mean_r", "mean_g", "mean_b")
        .select($"doc_id", $"width", $"height", $"mean_r", $"mean_g", $"mean_b")
        .orderBy($"doc_id")
    }),

    // Two-stage retrieve-then-rerank — the production ANN serving
    // shape: stage 1 scores the WHOLE corpus by ADC over the memoized
    // codebook (compressed codes only, top-50 candidates per query);
    // stage 2 re-ranks just those candidates with the exact cosine
    // over raw embeddings. At 100 TB the expensive exact math touches
    // 50 vectors per query instead of the corpus — the compressed scan
    // provides recall, the rerank provides precision, and both stages
    // reuse artifacts (pq_codebook) and plan shapes already in the
    // engine. Deterministic end-to-end → full DuckDB oracle;
    // QueriesSpec pins that reranking improves recall over raw ADC.
    "knn_rerank" -> ((s, d) => {
      import s.implicits._
      VecFunctions.register(s)
      val cb = pqCodebook(s, d)
      val enc = pqAssign(pqSubX(s, d), cb)
      val subArr = array((0 until PqM).map(m =>
        slice($"embedding", m * PqSubDim + 1, PqSubDim)): _*)
      val qtab = Tables.embeddings(s, d)
        .filter($"vec_id" < 100 && $"embedding".isNotNull)
        .select($"vec_id".as("q_id"), posexplode(subArr).as(Seq("m", "qsub")))
        .join(broadcast(cb), Seq("m"))
        .select($"q_id", $"m", $"code", VecFunctions.vecDot($"qsub", $"cent").as("pdot"))
        .localCheckpoint()
      val ps = (0 until PqM).map(m => max(when($"m" === m, $"pdot")).as(s"p$m"))
      val wAdc = Window.partitionBy($"q_id").orderBy($"adc".desc, $"vec_id")
      val cand = enc.join(broadcast(qtab), Seq("m", "code"))
        .filter($"q_id" =!= $"vec_id")
        .groupBy($"q_id", $"vec_id")
        .agg(ps.head, ps.tail: _*)
        .select($"q_id", $"vec_id",
          rnd((0 until PqM).map(m => col(s"p$m")).reduce(_ + _), 6).as("adc"))
        .withColumn("ar", row_number().over(wAdc))
        .filter($"ar" <= 50)
        .select($"q_id", $"vec_id")
      val e = withNorm(Tables.embeddings(s, d))
      val q = broadcast(e.filter($"vec_id" < 100)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm")))
      val w = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"vec_id")
      cand.join(e, Seq("vec_id")).join(q, Seq("q_id"))
        .select($"q_id", $"vec_id",
          rnd(cosFromNorms($"q_emb", $"embedding", $"q_nrm", $"nrm"), 6).as("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"q_id", $"vec_id".as("neighbor_id"), $"rn", $"cos_sim")
        .orderBy($"q_id", $"rn")
    }),

    // Gopher-style composite quality filter: the published heuristic
    // rule set (token-count range, mean-word-length range, stopword
    // presence, symbol-ratio cap) evaluated in ONE codegen'd pass with
    // a per-rule reason flag — a curation run needs to know WHY a doc
    // failed, not just that it did. Mean word length is computed
    // rationally ((chars − separators) / tokens — no transcendentals);
    // every rule is a pure column predicate, so the whole filter is a
    // single scan→project at any corpus size.
    "gopher_filter" -> ((s, d) => {
      import s.implicits._
      val nt = TF.nTokens($"text")
      val meanW = gopherMeanW($"text")
      val stopCnt = gopherStopCnt($"text")
      val punct = TF.punctRatio($"text")
      // fan tried and REVERTED (guide §1 re-measure): fanning this
      // projection 32-wide read warm wall 2.0 → 2.4 s with task cpu
      // 1.7 → 56 s — the rule expressions inflate per-thread when run
      // concurrently (same pathology as §8 of OPTIMIZATION_r15.md, but
      // here it eats the whole parallelism win on a 1.5 MB corpus).
      Tables.documents(s, d)
        .select($"doc_id", nt.cast("long").as("n_tok"),
          rnd(meanW, 6).as("mean_wlen"), stopCnt.cast("long").as("stop_cnt"),
          rnd(punct, 4).as("punct_ratio"),
          (nt >= 5 && nt <= 10000).as("r_len"),
          (meanW >= 2.0 && meanW <= 12.0).as("r_wlen"),
          (stopCnt >= 1).as("r_stop"),
          (punct <= 0.3).as("r_punct"))
        .withColumn("pass", $"r_len" && $"r_wlen" && $"r_stop" && $"r_punct")
        .orderBy($"doc_id")
    }),

    // Vocabulary application — the doc→id-sequence encode step between
    // vocab_build and pack_sequences: every token maps to its rank-id
    // in the top-1000 vocabulary (OOV → −1), preserving position. The
    // vocabulary broadcasts (it is bounded by construction); the only
    // corpus shuffle is the per-doc reassembly, whose payload is the
    // id STRING (ids joined by ','), never a nested array — the output
    // stays checker-safe and O(doc length). At 100 TB this is the
    // tokenize stage of a preprocessing run: one scan, one broadcast
    // join, one keyed aggregate.
    "tokenizer_apply" -> ((s, d) => {
      import s.implicits._
      val counts = termTable(s, d).groupBy($"term").agg(count(lit(1)).as("tf"))
      val w = graft.operators.BoundedWindow
        .orderBy("tokenizer_apply: top-1000 limit", 1000L, $"tf".desc, $"term")
      val vocab = broadcast(counts.orderBy($"tf".desc, $"term").limit(1000)
        .withColumn("token_id", row_number().over(w).cast("long") - 1)
        .select($"term", $"token_id"))
      Tables.documents(s, d)
        .select($"doc_id", posexplode(TF.tokens($"text")).as(Seq("pos", "tok")))
        .filter($"tok" =!= "")
        .join(vocab, $"tok" === $"term", "left")
        .select($"doc_id", $"pos", coalesce($"token_id", lit(-1L)).as("id"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(when($"id" === -1L, 1L).otherwise(0L)).as("n_oov"),
          array_join(transform(array_sort(collect_list(struct($"pos", $"id"))),
            x => x.getField("id").cast("string")), ",").as("ids"))
        .orderBy($"doc_id")
    }),

    // Cross-corpus near-dup pairs — the dedup-across-crawls /
    // batch-vs-batch shape: the shared LSH candidate graph restricted
    // to pairs whose endpoints live in DIFFERENT sub-corpora (source
    // parity stands in for two crawls). Reuses the memoized pair
    // table; the side lookup is a broadcast-scale dimension join, so
    // cross-corpus screening costs two keyed joins beyond the graph
    // every other dedup consumer already shares.
    "cross_corpus_pairs" -> ((s, d) => {
      import s.implicits._
      // try_cast, not cast: under ANSI mode a source with no digit
      // suffix would make regexp_extract return '' and the cast THROW;
      // try_cast yields NULL and the side inequality drops the row —
      // the same empty-set behavior as the oracle's TRY_CAST
      val par = Tables.documents(s, d)
        .select($"doc_id",
          (expr("try_cast(regexp_extract(source, '([0-9]+)$', 1) AS INT)") % 2)
            .as("side"))
      pairTable(s, d)
        .join(par.select($"doc_id".as("doc_a"), $"side".as("side_a")), Seq("doc_a"))
        .join(par.select($"doc_id".as("doc_b"), $"side".as("side_b")), Seq("doc_b"))
        .filter($"side_a" =!= $"side_b")
        .select($"doc_a", $"doc_b", $"side_a", $"side_b")
        .orderBy($"doc_a", $"doc_b")
    }),

    // Jaccard CONTAINMENT over the LSH candidate pairs:
    // |A∩B| / min(|A|,|B|) — the asymmetric-duplication signal
    // symmetric Jaccard misses (a doc pasted inside a much longer doc
    // scores ~1.0 containment but low Jaccard, so a Jaccard-gated
    // dedup keeps both copies). Same relational shingle-row
    // intersection as ngram_jaccard over the same memoized candidate
    // graph — O(1) payload per row, keyed joins only; the verify cost
    // is bounded by candidate-pair count, not corpus size.
    "minhash_containment" -> ((s, d) => {
      import s.implicits._
      // dictionary-encoded shingles (see shingleIdTable): the
      // Σ_pairs |shingles| intermediate below shuffles 8-byte sids,
      // not shingle text — the round-13 100× disk-exhaustion fix.
      // Budgeted pairs (see VerifyDegreeCap): the round-14 100× sweep
      // exhausted disk AGAIN on the id-encoded rows because the pair
      // count itself grew super-linearly; the per-doc verification
      // budget makes this intermediate linear in corpus size.
      val dsh = shingleIdTable(s, d)
      val sizes = dsh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      // `budgeted` (the verifyPairs honesty flag) is constant per
      // (doc_a, doc_b): grouping by it adds no cardinality
      val inter = verifyPairs(s, d)
        .join(dsh.select($"doc_id".as("doc_a"), $"sid"), Seq("doc_a"))
        .join(dsh.select($"doc_id".as("doc_b"), $"sid"), Seq("doc_b", "sid"))
        .groupBy($"doc_a", $"doc_b", $"budgeted").agg(count(lit(1)).as("n_int"))
      // zero-intersection candidates drop out of `inter`: containment
      // 0 can never pass the >= 0.5 threshold
      inter
        .join(sizes.select($"doc_id".as("doc_a"), $"n_sh".as("n_a")), Seq("doc_a"))
        .join(sizes.select($"doc_id".as("doc_b"), $"n_sh".as("n_b")), Seq("doc_b"))
        .select($"doc_a", $"doc_b", $"n_a", $"n_b", $"n_int",
          ($"n_int".cast("double") / least($"n_a", $"n_b").cast("double"))
            .as("containment"),
          $"budgeted")
        .filter($"containment" >= 0.5)
        .orderBy($"doc_a", $"doc_b")
    }),

    // Hybrid retrieval with reciprocal-rank fusion: a lexical
    // more-like-this ranking (idf-weighted rare-term overlap) and a
    // semantic ranking (embedding cosine) each produce a top-20 per
    // query doc, and RRF (k = 60) fuses them — the standard way to
    // combine rankers whose scores aren't commensurable. Scale: the
    // lexical join is keyed on DISCRIMINATIVE terms only (df ≤ N/10),
    // so its fan-out is bounded by rare-term posting lists — the
    // stop-word explosion never reaches the join; the semantic side
    // here is the brute-force contrast case (swap in knn_lsh/knn_pq
    // at scale — any ranker that emits (q_id, doc_id, rank) fuses
    // identically). Rank arithmetic 1/(60+r) is a single IEEE
    // division, so the fused score needs no rounding.
    "rrf_fusion" -> ((s, d) => {
      import s.implicits._
      val RrfK = 60
      // retrieval corpus: documents that carry an embedding (shared
      // id space; at every sf embeddings ⊆ documents)
      val emb = withNorm(Tables.embeddings(s, d))
      val n = memoizedCount(s, d, "embeddings_count")(
        Tables.embeddings(s, d).count())
      val maxDf = math.max(2L, n / 10)
      val t = termTable(s, d)
        .join(emb.select($"vec_id".as("doc_id")), Seq("doc_id"))
        .select($"doc_id", $"term").distinct()
      val rare = t.groupBy($"term").agg(count(lit(1)).as("df"))
        .filter($"df" <= maxDf)
      val lex = t.filter($"doc_id" < 20).select($"doc_id".as("q_id"), $"term")
        .join(t, Seq("term"))
        .join(broadcast(rare), Seq("term"))
        .filter($"q_id" =!= $"doc_id")
        .select($"q_id", $"doc_id",
          rnd(lit(n + 1).cast("double") / ($"df" + 1).cast("double"), 6).as("idf6"))
        .groupBy($"q_id", $"doc_id")
        .agg(sum($"idf6".cast("decimal(18,6)")).cast("double").as("lex_score"))
      val wl = Window.partitionBy($"q_id").orderBy($"lex_score".desc, $"doc_id")
      val lexTop = lex.withColumn("r_lex", row_number().over(wl))
        .filter($"r_lex" <= 20).select($"q_id", $"doc_id", $"r_lex")
      val q = broadcast(emb.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm")))
      val ws = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"doc_id")
      val semTop = q.join(emb, $"q_id" =!= $"vec_id")
        .select($"q_id", $"vec_id".as("doc_id"),
          rnd(cosFromNorms($"q_emb", $"embedding", $"q_nrm", $"nrm"), 6).as("cos_sim"))
        .withColumn("r_sem", row_number().over(ws))
        .filter($"r_sem" <= 20).select($"q_id", $"doc_id", $"r_sem")
      val wf = Window.partitionBy($"q_id").orderBy($"rrf".desc, $"doc_id")
      lexTop.join(semTop, Seq("q_id", "doc_id"), "full_outer")
        .select($"q_id", $"doc_id",
          (when($"r_lex".isNotNull, lit(1.0) / ($"r_lex" + RrfK).cast("double"))
            .otherwise(lit(0.0))
            + when($"r_sem".isNotNull, lit(1.0) / ($"r_sem" + RrfK).cast("double"))
              .otherwise(lit(0.0))).as("rrf"),
          coalesce($"r_lex", lit(0)).cast("long").as("r_lex"),
          coalesce($"r_sem", lit(0)).cast("long").as("r_sem"))
        .withColumn("rn", row_number().over(wf))
        .filter($"rn" <= 5)
        .select($"q_id", $"doc_id", $"rn", $"r_lex", $"r_sem", $"rrf")
        .orderBy($"q_id", $"rn")
    }),

    // IVF-PQ — the two scale paths COMPOSED, the shape a billion-vector
    // index actually runs: the coarse quantizer (K = 50 seeded
    // centroids, same assignment math as kmeans_assign) partitions the
    // corpus into cells, each query probes its nprobe = 2 nearest
    // cells, and within the probed cells scoring is ADC over the
    // memoized pqCodebook codes (by_residual = false, FAISS's
    // IVFPQ-no-residual variant — reusing the corpus-trained codebook
    // keeps the cell store one artifact instead of K). Per query the
    // scan touches ~nprobe/K of the CODES (8 B/vector), never raw
    // floats: candidate count and memory both shrink multiplicatively.
    // Fully deterministic given the seeded centroids + codebook →
    // full DuckDB oracle; QueriesSpec pins the probe discipline and
    // recall floor.
    "knn_ivfpq" -> ((s, d) => {
      import s.implicits._
      VecFunctions.register(s)
      val e = Tables.embeddings(s, d)
      val cents = ivfCents(s, d)
      // cell assignment from the memoized ivfCells index artifact —
      // same op order and tiebreak as kmeans_assign BY CONSTRUCTION
      // (one definition), so the two operators can never disagree on
      // the partition a vector lives in
      val cells = ivfCells(s, d).select($"vec_id", $"cell")
      val wc = Window.partitionBy($"q_id").orderBy($"d2", $"cell")
      // null query vectors probe nothing (NULL distances everywhere)
      val probes = e.filter($"vec_id" < 100 && $"embedding".isNotNull)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
        .withColumn("xx", VecFunctions.vecDot($"q_emb", $"q_emb"))
        .crossJoin(broadcast(cents))
        .select($"q_id", $"cell",
          ($"xx" - lit(2.0) * VecFunctions.vecDot($"q_emb", $"cent") + $"cc").as("d2"))
        .withColumn("cr", row_number().over(wc))
        .filter($"cr" <= 2)
        .select($"q_id", $"cell")
      val cb = pqCodebook(s, d)
      val enc = pqAssign(pqSubX(s, d), cb).join(cells, Seq("vec_id"))
      val subArr = array((0 until PqM).map(m =>
        slice($"embedding", m * PqSubDim + 1, PqSubDim)): _*)
      val qtab = e.filter($"vec_id" < 100 && $"embedding".isNotNull)
        .select($"vec_id".as("q_id"), posexplode(subArr).as(Seq("m", "qsub")))
        .join(broadcast(cb), Seq("m"))
        .select($"q_id", $"m", $"code", VecFunctions.vecDot($"qsub", $"cent").as("pdot"))
        .localCheckpoint()
      val ps = (0 until PqM).map(m => max(when($"m" === m, $"pdot")).as(s"p$m"))
      val w = Window.partitionBy($"q_id").orderBy($"score".desc, $"vec_id")
      enc.join(broadcast(probes), Seq("cell"))
        .filter($"q_id" =!= $"vec_id")
        .join(broadcast(qtab), Seq("q_id", "m", "code"))
        .groupBy($"q_id", $"vec_id")
        .agg(ps.head, ps.tail: _*)
        .select($"q_id", $"vec_id",
          rnd((0 until PqM).map(m => col(s"p$m")).reduce(_ + _), 6).as("score"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"q_id", $"vec_id".as("neighbor_id"), $"rn", $"score")
        .orderBy($"q_id", $"rn")
    })
  )

  val oracles: Map[String, String] = Map(
    "text_stats" ->
      // CAST(sum(...) AS BIGINT): DuckDB sums integers into HUGEINT
      // (float64 in the driver's pandas compare); Spark stays int64.
      s"""SELECT lang, count(*) AS n_docs,
         | CAST(sum($NTOK) AS BIGINT) AS total_tokens,
         | CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars,
         | min(n_chars) AS min_chars, max(n_chars) AS max_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "text_quality" ->
      s"""SELECT doc_id, length(text) AS text_len, $NTOK AS n_tokens,
         | floor((CASE WHEN length(text) = 0 THEN 0.0 ELSE
         |   CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
         | floor((CASE WHEN $NTOK = 0 THEN 0.0 ELSE
         |   CAST(len(list_filter($TOKS, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len($TOKS) END) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
         | floor(greatest(0.0,
         |   least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.5
         |   + least((CASE WHEN $NTOK = 0 THEN 0.0 ELSE CAST(len(list_filter($TOKS, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len($TOKS) END) * 5.0, 1.0) * 0.5
         |   - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END) * 2.0, 1.0) * 0.3) * 10000.0 + 0.5) / 10000.0 AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,

    "lang_id" ->
      s"""SELECT doc_id, lang, $duckLangCase AS pred_lang
         |FROM documents ORDER BY doc_id""".stripMargin,

    "token_count" ->
      s"""SELECT doc_id, $NTOK AS ws_tokens,
         | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "fingerprint" ->
      s"""SELECT doc_id,
         | md5(coalesce(array_to_string(list_sort($TOKS), ' '), '')) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "exact_dedup" ->
      s"""SELECT fp, min(doc_id) AS keeper, count(*) AS n_copies FROM
         | (SELECT doc_id, md5(coalesce(array_to_string(list_sort($TOKS), ' '), '')) AS fp
         |  FROM documents) t
         |GROUP BY fp ORDER BY fp""".stripMargin,

    // same candidate CTEs, same exact-fingerprint ground truth, same
    // snapped closing ratios
    "blocking_quality" ->
      s"""WITH $duckCandidateCtes,
         |fp AS (SELECT doc_id,
         |    md5(coalesce(array_to_string(list_sort($TOKS), ' '), '')) AS fp
         |  FROM documents),
         |nn AS (SELECT count(*) AS n_docs FROM documents),
         |nc AS (SELECT count(*) AS n_cand FROM cand),
         |tp AS (SELECT CAST(coalesce(sum(m * (m - 1) // 2), 0) AS BIGINT)
         |    AS n_true
         |  FROM (SELECT count(*) AS m FROM fp GROUP BY fp) g),
         |tic AS (SELECT count(*) AS n_true_in_cand
         |  FROM cand c
         |  JOIN fp a ON c.doc_a = a.doc_id
         |  JOIN fp b ON c.doc_b = b.doc_id
         |  WHERE a.fp = b.fp)
         |SELECT n_docs, CAST(n_cand AS BIGINT) AS n_cand,
         |  CASE WHEN n_docs > 1 THEN ${Q.duckRnd(
        "1.0 - CAST(n_cand AS DOUBLE)" +
          " / (CAST(n_docs AS DOUBLE) * CAST(n_docs - 1 AS DOUBLE) / 2.0)",
        10)} END AS reduction_ratio,
         |  n_true, CAST(n_true_in_cand AS BIGINT) AS n_true_in_cand,
         |  CASE WHEN n_true > 0 THEN ${Q.duckRnd(
        "CAST(n_true_in_cand AS DOUBLE) / CAST(n_true AS DOUBLE)", 10)} END
         |    AS pair_completeness
         |FROM nn CROSS JOIN nc CROSS JOIN tp CROSS JOIN tic""".stripMargin,

    "pii_scrub" ->
      """SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(
        |   substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |    || CAST((doc_id * 7) % 256 AS VARCHAR)
        |    || ' call 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR),
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |   '\b555-\d{4}\b', '<PHONE>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dup_ngram_frac" ->
      s"""WITH $duckShingleCtes
         |SELECT doc_id,
         |  CAST(len(sh) AS BIGINT) AS n_shingles,
         |  CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
         |  CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / CAST(len(sh) AS DOUBLE)
         |    AS dup_frac
         |FROM sh ORDER BY doc_id""".stripMargin,

    "unigram_surprise" ->
      s"""WITH t AS (
         |  SELECT doc_id, term FROM
         |   (SELECT doc_id, unnest($TOKS) AS term FROM documents) x
         |  WHERE term <> ''),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY term),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM t)
         |SELECT doc_id, count(*) AS n_tok,
         |  CAST(sum(df.df) AS DOUBLE) / CAST(count(*) * (SELECT n_docs FROM nd) AS DOUBLE)
         |    AS mean_df_frac
         |FROM t JOIN df USING (term)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // 5 merge iterations unrolled as CTE stages (pagerank_lite
    // precedent): each stage re-splits the symbol strings, counts
    // tf-weighted adjacent pairs, takes the deterministic argmax, and
    // rewrites via the same literal non-overlapping replace Spark runs
    "bpe_merges" ->
      s"""WITH $duckBpeTrainCtes
         |SELECT * FROM (
         |${(1 to 5).map(i =>
             s"  SELECT CAST($i AS BIGINT) AS step, a, b, cnt FROM b$i")
             .mkString("\n  UNION ALL\n")}
         |) ORDER BY step""".stripMargin,

    // the same training CTE chain supplies the rules; every document
    // token re-derives its char symbols and applies the 5 rules in
    // training order as nested greedy merge folds (duckBpeMerge)
    "bpe_apply" -> {
      val sym = (1 to 5).foldLeft(
        "' ' || regexp_replace(tok, '(.)', '\\1 ', 'g')") { (e, i) =>
        duckBpeMerge(e, s"r$i.a", s"r$i.b")
      }
      val ruleFrom = (1 to 5).map(i => s"b$i r$i").mkString(", ")
      s"""WITH $duckBpeTrainCtes,
         |dt AS (SELECT doc_id, unnest($TOKS) AS tok FROM documents),
         |enc AS (SELECT doc_id, tok, $sym AS sym
         |        FROM dt, $ruleFrom WHERE tok <> '')
         |SELECT doc_id, count(*) AS n_tokens,
         | CAST(sum(length(tok)) AS BIGINT) AS char_symbols,
         | CAST(sum(len(string_split(sym, ' ')) - 2) AS BIGINT) AS bpe_symbols,
         | CAST(sum(len(string_split(sym, ' ')) - 2) AS DOUBLE)
         |   / CAST(sum(length(tok)) AS DOUBLE) AS compression
         |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // same training CTE chain (rules + w5); the id vocabulary is the
    // sorted distinct symbol list of w5, encode is list_position per
    // merged symbol, decode re-reads the list at the id and re-joins —
    // tokens carry their ordinal so string_agg rebuilds document order
    "bpe_decode" -> {
      val sym = (1 to 5).foldLeft(
        "' ' || regexp_replace(tok, '(.)', '\\1 ', 'g')") { (e, i) =>
        duckBpeMerge(e, s"r$i.a", s"r$i.b")
      }
      val ruleFrom = (1 to 5).map(i => s"b$i r$i").mkString(", ")
      s"""WITH $duckBpeTrainCtes,
         |vv AS (SELECT DISTINCT unnest(string_split(sym, ' ')) AS sy FROM w5),
         |voc AS (SELECT list(sy ORDER BY sy) AS syms FROM vv WHERE sy <> ''),
         |dt AS (SELECT doc_id, list_filter($TOKS, t -> t <> '') AS w
         |       FROM documents),
         |dtok AS (SELECT doc_id, i, w[i] AS tok
         |         FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i
         |               FROM dt WHERE len(w) > 0) q),
         |enc AS (SELECT doc_id, i, $sym AS sym FROM dtok, $ruleFrom),
         |es AS (SELECT doc_id, i,
         |    list_filter(string_split(sym, ' '), x -> x <> '') AS sl FROM enc),
         |ids AS (SELECT doc_id, i,
         |    list_transform(sl, x -> nullif(list_position(syms, x), 0)) AS idl
         |    FROM es, voc),
         |dec AS (SELECT doc_id, i, len(idl) AS n_sym,
         |    len(list_filter(idl, v -> v IS NULL)) AS n_oov_t,
         |    array_to_string(list_transform(idl,
         |      v -> CASE WHEN v IS NULL THEN '<unk>' ELSE syms[v] END), '')
         |      AS dtok
         |    FROM ids, voc)
         |SELECT doc_id, count(*) AS n_tokens,
         | CAST(sum(n_sym) AS BIGINT) AS n_syms,
         | CAST(sum(n_oov_t) AS BIGINT) AS n_oov,
         | string_agg(dtok, ' ' ORDER BY i) AS decoded
         |FROM dec GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "vocab_build" ->
      s"""WITH t AS (SELECT doc_id, unnest($TOKS) AS term FROM documents),
         |c AS (SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
         |      FROM t WHERE term <> '' GROUP BY term),
         |top AS (SELECT term, tf, df FROM c ORDER BY tf DESC, term LIMIT 1000)
         |SELECT row_number() OVER (ORDER BY tf DESC, term) - 1 AS token_id,
         | term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
         |FROM top ORDER BY token_id""".stripMargin,

    "bigram_lm" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS w FROM documents),
         |idx AS (SELECT w, unnest(range(1, len(w))) AS i FROM toks WHERE len(w) >= 2),
         |pairs AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM idx),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY w1)
         |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, CAST(c1 AS BIGINT) AS c1,
         | CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
         |FROM c12 JOIN c1 USING (w1)
         |ORDER BY c12 DESC, w1, w2 LIMIT 200""".stripMargin,

    // same nested count-of-counts, same sparse r+1 left join (NULL
    // r* where N_{r+1} is absent), same lowest-20 cut
    "good_turing" ->
      s"""WITH t AS (SELECT doc_id, unnest($TOKS) AS term FROM documents),
         |tf AS (SELECT term, count(*) AS r FROM t WHERE term <> ''
         |       GROUP BY term),
         |fof AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
         |        FROM tf GROUP BY r)
         |SELECT f.r, f.n_r,
         | ${Q.duckRnd(
             "CAST(f.r + 1 AS DOUBLE) * CAST(n2.n_r AS DOUBLE)" +
               " / CAST(f.n_r AS DOUBLE)", 6)} AS r_star
         |FROM fof f LEFT JOIN fof n2 ON n2.r = f.r + 1
         |ORDER BY f.r LIMIT 20""".stripMargin,

    // same windows over the one bigram-type relation, same fixed
    // IEEE closing sequence, same (c12 desc, w1, w2) tiebreak
    "kneser_ney_lm" ->
      s"""WITH toks AS (SELECT $TOKS AS w FROM documents),
         |idx AS (SELECT w, unnest(range(1, len(w))) AS i
         |        FROM toks WHERE len(w) >= 2),
         |pairs AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM idx),
         |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |        FROM pairs GROUP BY w1, w2),
         |e AS (SELECT w1, w2, c12,
         |  CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
         |  CAST(count(*) OVER (PARTITION BY w1) AS BIGINT) AS n1fw,
         |  CAST(count(*) OVER (PARTITION BY w2) AS BIGINT) AS ncw2
         | FROM c12),
         |t AS (SELECT count(*) AS nbb FROM c12)
         |SELECT w1, w2, c12,
         | ${Q.duckRnd(
             "greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)" +
               " + (0.75 * CAST(n1fw AS DOUBLE) / CAST(c1 AS DOUBLE))" +
               " * (CAST(ncw2 AS DOUBLE) / CAST(nbb AS DOUBLE))", 6)} AS p_kn
         |FROM e CROSS JOIN t
         |ORDER BY c12 DESC, w1, w2 LIMIT 50""".stripMargin,

    "lm_score" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS w FROM documents),
         |idx AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i
         |        FROM toks WHERE len(w) >= 2),
         |pairs AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM idx),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
         |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1),
         |lm AS (SELECT w1, w2, CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
         |       FROM c12 JOIN c1 USING (w1))
         |SELECT doc_id, count(*) AS n_bigrams,
         | CAST(sum(CAST(${Q.duckRnd("p", 6)} AS DECIMAL(18,6))) AS DOUBLE)
         |   / count(*) AS mean_p,
         | min(${Q.duckRnd("p", 6)}) AS min_p
         |FROM pairs JOIN lm USING (w1, w2)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "kmeans_assign" ->
      s"""WITH c AS (SELECT vec_id AS cluster_id, embedding AS cent
         |           FROM embeddings
         |           WHERE vec_id < 50 AND embedding IS NOT NULL),
         |a AS (SELECT e.vec_id, c.cluster_id,
         |  ${duckDot("e.embedding", "e.embedding")}
         |    - 2*${duckDot("e.embedding", "c.cent")}
         |    + ${duckDot("c.cent", "c.cent")} AS d2
         |  FROM embeddings e CROSS JOIN c
         |  WHERE e.embedding IS NOT NULL),
         |r AS (SELECT vec_id, cluster_id, d2,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn
         |  FROM a)
         |SELECT cluster_id, count(*) AS n_vecs,
         | CAST(sum(CAST(${Q.duckRnd("d2", 6)} AS DECIMAL(18,6))) AS DOUBLE)
         |   / count(*) AS mean_d2
         |FROM r WHERE rn = 1
         |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    "minhash_dedup" ->
      s"""WITH $duckCandidateCtes
         |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin,

    "simhash" -> {
      s"""WITH toks AS (SELECT doc_id, $TOKS AS w FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles("w")} AS sh FROM toks WHERE len(w) >= 3),
         |ex AS (SELECT doc_id, md5(unnest(sh)) AS h FROM sh),
         |bits AS (SELECT doc_id,
         | $duckSimhashSums
         | FROM ex GROUP BY doc_id)
         |SELECT doc_id, $duckSimhashCombine AS simhash FROM bits ORDER BY doc_id""".stripMargin
    },

    "simhash_neardup" -> {
      val bandRows = (0 until 4).map { b =>
        s"SELECT doc_id, simhash, $b AS band, (simhash >> ${16 * b}) & 65535 AS key FROM sims"
      }.mkString("\n UNION ALL\n ")
      s"""WITH toks AS (SELECT doc_id, $TOKS AS w FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles("w")} AS sh FROM toks WHERE len(w) >= 3),
         |ex AS (SELECT doc_id, md5(unnest(sh)) AS h FROM sh),
         |bits AS (SELECT doc_id, $duckSimhashSums FROM ex GROUP BY doc_id),
         |sims AS (SELECT doc_id, $duckSimhashCombine AS simhash FROM bits),
         |bands AS (
         | $bandRows)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM bands a JOIN bands b
         | ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "ngram_jaccard" ->
      s"""WITH $duckVerifyCandCtes
         |SELECT doc_a, doc_b, jacc, budgeted FROM (
         | SELECT c.doc_a, c.doc_b, c.budgeted,
         |  CAST(len(list_filter(list_distinct(sa.sh), x -> list_contains(sb.sh, x))) AS DOUBLE)
         |   / (len(list_distinct(sa.sh)) + len(list_distinct(sb.sh))
         |      - len(list_filter(list_distinct(sa.sh), x -> list_contains(sb.sh, x)))) AS jacc
         | FROM vcand c
         |  JOIN sh sa ON sa.doc_id = c.doc_a
         |  JOIN sh sb ON sb.doc_id = c.doc_b) t
         |WHERE jacc >= 0.4 ORDER BY doc_a, doc_b""".stripMargin,

    "minhash_est" -> {
      val sigCols = (0 until 8)
        .map(i => s"${duckMinhash("sh", i)} AS p$i").mkString(",\n  ")
      val agree = (0 until 8)
        .map(i => s"(CASE WHEN a.p$i = b.p$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $duckCandidateCtes,
         |sigs AS (SELECT doc_id,
         |  $sigCols
         | FROM sh)
         |SELECT doc_a, doc_b, ($agree) / 8.0 AS est_jaccard
         |FROM cand
         | JOIN sigs a ON a.doc_id = doc_a
         | JOIN sigs b ON b.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "minhash_b_bit" -> {
      val sigCols = (0 until 8)
        .map(i => s"${duckHexDigit(duckMinhash("sh", i), 7)} % 2 AS p$i")
        .mkString(",\n  ")
      val agree = (0 until 8)
        .map(i => s"(CASE WHEN a.p$i = b.p$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $duckCandidateCtes,
         |sigs AS (SELECT doc_id,
         |  $sigCols
         | FROM sh)
         |SELECT doc_a, doc_b, CAST($agree AS BIGINT) AS bits_agree,
         |  (CAST($agree AS DOUBLE) / 8.0) * 2.0 - 1.0 AS est_1bit
         |FROM cand
         | JOIN sigs a ON a.doc_id = doc_a
         | JOIN sigs b ON b.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    // same blocked pairs, same null-safe agreements, same shared
    // literal weights in the same add order
    "fs_linkage" ->
      s"""WITH $duckCandidateCtes,
         |meta AS (SELECT doc_id, lang, source, n_chars FROM documents),
         |j AS (SELECT c.doc_a, c.doc_b,
         |   (a.lang IS NOT DISTINCT FROM b.lang) AS a_lang,
         |   (a.source IS NOT DISTINCT FROM b.source) AS a_source,
         |   coalesce(abs(a.n_chars - b.n_chars) * 10
         |     <= greatest(a.n_chars, b.n_chars), false) AS a_len
         |  FROM cand c JOIN meta a ON c.doc_a = a.doc_id
         |   JOIN meta b ON c.doc_b = b.doc_id),
         |sc AS (SELECT doc_a, doc_b, a_lang, a_source, a_len,
         |   (CASE WHEN a_lang THEN ${fsWSql(0, agree = true)}
         |      ELSE ${fsWSql(0, agree = false)} END
         |    + CASE WHEN a_source THEN ${fsWSql(1, agree = true)}
         |      ELSE ${fsWSql(1, agree = false)} END)
         |    + CASE WHEN a_len THEN ${fsWSql(2, agree = true)}
         |      ELSE ${fsWSql(2, agree = false)} END AS score
         |  FROM j)
         |SELECT doc_a, doc_b, a_lang, a_source, a_len, score,
         | CASE WHEN score >= $FsMatchThr THEN 'match'
         |   WHEN score >= 0.0 THEN 'possible'
         |   ELSE 'non_match' END AS cls
         |FROM sc ORDER BY score DESC, doc_a, doc_b""".stripMargin,

    "fuzzy_match" ->
      s"""WITH $duckCandidateCtes,
         |prefs AS (SELECT doc_id, substr($NORM, 1, 40) AS t FROM documents)
         |SELECT doc_a, doc_b, edit_dist FROM (
         | SELECT doc_a, doc_b, levenshtein(a.t, b.t) AS edit_dist
         | FROM cand
         |  JOIN prefs a ON a.doc_id = doc_a
         |  JOIN prefs b ON b.doc_id = doc_b) x
         |WHERE edit_dist <= 10 ORDER BY doc_a, doc_b""".stripMargin,

    "embedding_neardup" ->
      s"""SELECT vec_a, vec_b, cos_sim FROM (
         | SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${Q.duckRnd(duckCos("a.embedding", "b.embedding"), 6)} AS cos_sim
         | FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id) t
         |WHERE cos_sim > 0.8 ORDER BY vec_a, vec_b""".stripMargin,

    "knn_bruteforce" ->
      s"""SELECT q_id, neighbor_id, rn, cos_sim FROM (
         | SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
         |  ${Q.duckRnd(duckCos("q.embedding", "e.embedding"), 6)} AS cos_sim,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${Q.duckRnd(duckCos("q.embedding", "e.embedding"), 6)} DESC, e.vec_id) AS rn
         | FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
         | WHERE q.vec_id < 100) t
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    "cosine_topk" ->
      s"""SELECT q_id, neighbor_id, rn, cos_sim FROM (
         | SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
         |  ${Q.duckRnd(duckCos("q.embedding", "e.embedding"), 6)} AS cos_sim,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${Q.duckRnd(duckCos("q.embedding", "e.embedding"), 6)} DESC, e.vec_id) AS rn
         | FROM embeddings q JOIN embeddings e
         |  ON q.label = e.label AND q.vec_id <> e.vec_id
         | WHERE q.vec_id < 100) t
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    // IVF is deterministic given the computed centroids (decimal-exact
    // per-dimension means), so it has a FULL oracle: DuckDB recomputes
    // the centroids with the same decimal sums, REAL casts, and probe
    // ranking. generate_subscripts+unnest zip the embedding open the
    // way posexplode does.
    "knn_ivf" ->
      s"""WITH dims AS (
         |  SELECT label, generate_subscripts(embedding, 1) AS pos,
         |         CAST(unnest(embedding) AS DECIMAL(18,8)) AS dv
         |  FROM embeddings
         |),
         |cvs AS (
         |  SELECT label, pos, CAST(sum(dv) AS DOUBLE) / count(*) AS cv
         |  FROM dims GROUP BY label, pos
         |),
         |cents AS (
         |  SELECT label, list(CAST(cv AS REAL) ORDER BY pos) AS cent FROM cvs GROUP BY label
         |),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 100),
         |probes AS (
         |  SELECT q_id, q_emb, label FROM (
         |    SELECT q.q_id, q.q_emb, c.label,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${duckCos("q.q_emb", "c.cent")} DESC, c.label) AS cr
         |    FROM q CROSS JOIN cents c) t
         |  WHERE cr <= 2
         |)
         |SELECT q_id, neighbor_id, rn, cos_sim FROM (
         |  SELECT p.q_id, e.vec_id AS neighbor_id,
         |    ${Q.duckRnd(duckCos("p.q_emb", "e.embedding"), 6)} AS cos_sim,
         |    row_number() OVER (PARTITION BY p.q_id
         |      ORDER BY ${Q.duckRnd(duckCos("p.q_emb", "e.embedding"), 6)} DESC, e.vec_id) AS rn
         |  FROM probes p JOIN embeddings e ON p.label = e.label AND p.q_id <> e.vec_id) t
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    // LSH is deterministic given the seeded hyperplanes, so it too has
    // a FULL oracle: DuckDB regenerates every plane component from the
    // same md5("bit:i") → first-4-bytes → [0,1) float → −0.5 mapping
    // (REAL casts reproduce the float rounding bit-for-bit), derives
    // the signature width from the corpus count with the same
    // ceil(log2(N/32)) clamp, and replays the multi-probe equi-join.
    "knn_lsh" -> {
      val hv = duckHex8ToBigint("h")
      s"""WITH bitsq AS (
         |  SELECT least(24, greatest(4, CAST(ceil(log2(greatest(1, count(*) // ${LshTargetBucket}))) AS INTEGER))) AS bits
         |  FROM embeddings
         |),
         |comps AS (
         |  SELECT r.range AS r, i.range AS i,
         |    CAST(CAST(($hv) / 4294967296.0 AS REAL) - CAST(0.5 AS REAL) AS REAL) AS comp
         |  FROM range(0, 24) r, range(0, 64) i,
         |       LATERAL (SELECT md5(CAST(r.range AS VARCHAR) || ':' || CAST(i.range AS VARCHAR)) AS h) m
         |),
         |planes AS (
         |  SELECT r, list(comp ORDER BY i) AS plane FROM comps, bitsq WHERE r < bits GROUP BY r
         |),
         |sigs AS (
         |  SELECT e.vec_id, e.embedding,
         |    CAST(sum(CASE WHEN ${duckDot("e.embedding", "p.plane")} > 0 THEN (1 << p.r) ELSE 0 END) AS INTEGER) AS sig
         |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id, e.embedding
         |),
         |masks AS (
         |  SELECT 0 AS m FROM bitsq
         |  UNION ALL SELECT (1 << r.range) FROM range(0, 24) r, bitsq WHERE r.range < bits
         |),
         |probes AS (
         |  SELECT s.vec_id AS q_id, s.embedding AS q_emb, xor(s.sig, mk.m) AS probe
         |  FROM sigs s CROSS JOIN masks mk WHERE s.vec_id < 100
         |)
         |SELECT q_id, neighbor_id, rn, cos_sim FROM (
         |  SELECT p.q_id, e.vec_id AS neighbor_id,
         |    ${Q.duckRnd(duckCos("p.q_emb", "e.embedding"), 6)} AS cos_sim,
         |    row_number() OVER (PARTITION BY p.q_id
         |      ORDER BY ${Q.duckRnd(duckCos("p.q_emb", "e.embedding"), 6)} DESC, e.vec_id) AS rn
         |  FROM probes p JOIN sigs e ON p.probe = e.sig AND p.q_id <> e.vec_id) t
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
    },

    // PQ is deterministic given the seeded-Lloyd codebooks, so it has
    // a FULL oracle: DuckDB replays the seed assignment, recomputes
    // every subspace centroid with the same decimal sums and REAL
    // casts, replays the argmin encoding (same (x·x − 2·x·c) + c·c op
    // order, same code tiebreak), builds the same ADC table, and sums
    // the 8 partial dots in the same fixed column order.
    "knn_pq" ->
      s"""WITH $duckPqCtes,
         |sc AS (
         |  SELECT q_id, vec_id, $duckPqFixedSum AS raw
         |  FROM enc JOIN qtab USING (m, code)
         |  WHERE q_id <> vec_id
         |  GROUP BY q_id, vec_id
         |)
         |SELECT q_id, neighbor_id, rn, score FROM (
         |  SELECT q_id, vec_id AS neighbor_id, ${Q.duckRnd("raw", 6)} AS score,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${Q.duckRnd("raw", 6)} DESC, vec_id) AS rn
         |  FROM sc) t
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    "hof_funcs" ->
      s"""SELECT vec_id,
         | CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
         | ${Q.duckRnd("list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))", 6)} AS sum_all,
         | ${Q.duckRnd("list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))", 6)} AS norm2,
         | CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS max_abs
         |FROM embeddings ORDER BY vec_id""".stripMargin,

    // DuckDB list slicing w[a:b] is 1-based inclusive and clamps at
    // the list end — same semantics as Spark's slice(w, start+1, 32).
    "doc_chunk" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS w FROM documents WHERE length($NORM) > 0),
         |st AS (SELECT doc_id, w, unnest(range(0, len(w), 24)) AS start FROM toks)
         |SELECT doc_id, start // 24 AS chunk_id,
         | array_to_string(w[start+1 : start+32], ' ') AS chunk,
         | least(32, len(w) - start) AS n_tokens
         |FROM st WHERE start = 0 OR len(w) - start > 8
         |ORDER BY doc_id, chunk_id""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id,
        | octet_length(encode(text)) AS n_bytes,
        | md5(text) AS checksum,
        | octet_length(encode(text)) % 640 + 1 AS width,
        | n_chars % 480 + 1 AS height,
        | CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'png'
        |      WHEN octet_length(encode(text)) % 3 = 1 THEN 'jpg'
        |      ELSE 'webp' END AS fmt
        |FROM documents ORDER BY doc_id""".stripMargin,

    // a solid-color image's decoded channel means equal its generating
    // color — pure arithmetic, no decode needed on the oracle side
    "image_decode_stats" ->
      """SELECT doc_id,
        | CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
        | ((doc_id * 37) % 256 + 256) % 256 AS mean_r,
        | ((doc_id * 57) % 256 + 256) % 256 AS mean_g,
        | ((doc_id * 77) % 256 + 256) % 256 AS mean_b
        |FROM documents ORDER BY doc_id""".stripMargin,

    "knn_rerank" ->
      s"""WITH $duckPqCtes,
         |sc AS (
         |  SELECT q_id, vec_id, $duckPqFixedSum AS raw
         |  FROM enc JOIN qtab USING (m, code)
         |  WHERE q_id <> vec_id
         |  GROUP BY q_id, vec_id
         |),
         |cand AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${Q.duckRnd("raw", 6)} DESC, vec_id) AS ar
         |  FROM sc) t
         | WHERE ar <= 50)
         |SELECT q_id, neighbor_id, rn, cos_sim FROM (
         |  SELECT c.q_id, c.vec_id AS neighbor_id,
         |    ${Q.duckRnd(duckCos("q.embedding", "e.embedding"), 6)} AS cos_sim,
         |    row_number() OVER (PARTITION BY c.q_id
         |      ORDER BY ${Q.duckRnd(duckCos("q.embedding", "e.embedding"), 6)} DESC, c.vec_id) AS rn
         |  FROM cand c
         |   JOIN embeddings e ON e.vec_id = c.vec_id
         |   JOIN embeddings q ON q.vec_id = c.q_id) t
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    "gopher_filter" ->
      s"""SELECT doc_id, CAST($NTOK AS BIGINT) AS n_tok,
         | ${Q.duckRnd(duckGopherMeanW, 6)} AS mean_wlen,
         | CAST($duckGopherStopCnt AS BIGINT) AS stop_cnt,
         | ${Q.duckRnd(duckGopherPunct, 4)} AS punct_ratio,
         | ($NTOK >= 5 AND $NTOK <= 10000) AS r_len,
         | ($duckGopherMeanW >= 2.0 AND $duckGopherMeanW <= 12.0) AS r_wlen,
         | ($duckGopherStopCnt >= 1) AS r_stop,
         | ($duckGopherPunct <= 0.3) AS r_punct,
         | $duckGopherPass AS pass
         |FROM documents ORDER BY doc_id""".stripMargin,

    "tokenizer_apply" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS w FROM documents),
         |tr AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos,
         |        unnest(w) AS tok FROM toks),
         |t AS (SELECT doc_id, pos, tok FROM tr WHERE tok <> ''),
         |c AS (SELECT term, count(*) AS tf
         |      FROM (SELECT unnest($TOKS) AS term FROM documents) x
         |      WHERE term <> '' GROUP BY term),
         |top AS (SELECT term,
         |         row_number() OVER (ORDER BY tf DESC, term) - 1 AS token_id
         |        FROM (SELECT term, tf FROM c ORDER BY tf DESC, term LIMIT 1000) v),
         |j AS (SELECT t.doc_id, t.pos, coalesce(top.token_id, -1) AS id
         |      FROM t LEFT JOIN top ON t.tok = top.term)
         |SELECT doc_id, count(*) AS n_tok,
         | CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         | array_to_string(list(CAST(id AS VARCHAR) ORDER BY pos), ',') AS ids
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "cross_corpus_pairs" ->
      s"""WITH $duckCandidateCtes,
         |par AS (SELECT doc_id,
         |  TRY_CAST(regexp_extract(source, '([0-9]+)$$', 1) AS INTEGER) % 2 AS side
         | FROM documents)
         |SELECT c.doc_a, c.doc_b, a.side AS side_a, b.side AS side_b
         |FROM cand c
         | JOIN par a ON a.doc_id = c.doc_a
         | JOIN par b ON b.doc_id = c.doc_b
         |WHERE a.side <> b.side
         |ORDER BY c.doc_a, c.doc_b""".stripMargin,

    "minhash_containment" ->
      s"""WITH $duckVerifyCandCtes
         |SELECT doc_a, doc_b, n_a, n_b, n_int, containment, budgeted FROM (
         | SELECT c.doc_a, c.doc_b, c.budgeted,
         |  CAST(len(list_distinct(sa.sh)) AS BIGINT) AS n_a,
         |  CAST(len(list_distinct(sb.sh)) AS BIGINT) AS n_b,
         |  CAST(len(list_filter(list_distinct(sa.sh), x -> list_contains(sb.sh, x))) AS BIGINT) AS n_int,
         |  CAST(len(list_filter(list_distinct(sa.sh), x -> list_contains(sb.sh, x))) AS DOUBLE)
         |   / least(len(list_distinct(sa.sh)), len(list_distinct(sb.sh))) AS containment
         | FROM vcand c
         |  JOIN sh sa ON sa.doc_id = c.doc_a
         |  JOIN sh sb ON sb.doc_id = c.doc_b) t
         |WHERE containment >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,

    "rrf_fusion" -> {
      val idf6 = Q.duckRnd("CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)", 6)
      s"""WITH tt AS (SELECT d.doc_id, unnest(string_split(${normOf("d.text")}, ' ')) AS term
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
         |t AS (SELECT DISTINCT doc_id, term FROM tt WHERE term <> ''),
         |nn AS (SELECT count(*) AS n FROM embeddings),
         |rare AS (SELECT term, count(*) AS df FROM t CROSS JOIN nn
         |  GROUP BY term, n HAVING count(*) <= greatest(2, n // 10)),
         |lex AS (SELECT a.doc_id AS q_id, b.doc_id AS doc_id,
         |   CAST(sum(CAST($idf6 AS DECIMAL(18,6))) AS DOUBLE) AS lex_score
         |  FROM t a JOIN t b USING (term) JOIN rare USING (term) CROSS JOIN nn
         |  WHERE a.doc_id < 20 AND a.doc_id <> b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |lextop AS (SELECT q_id, doc_id, r_lex FROM (
         |   SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
         |     ORDER BY lex_score DESC, doc_id) AS r_lex FROM lex) x
         |  WHERE r_lex <= 20),
         |sem AS (SELECT q.vec_id AS q_id, e.vec_id AS doc_id,
         |   ${Q.duckRnd(duckCos("q.embedding", "e.embedding"), 6)} AS cos_sim
         |  FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
         |  WHERE q.vec_id < 20),
         |semtop AS (SELECT q_id, doc_id, r_sem FROM (
         |   SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
         |     ORDER BY cos_sim DESC, doc_id) AS r_sem FROM sem) x
         |  WHERE r_sem <= 20),
         |f AS (SELECT coalesce(l.q_id, s.q_id) AS q_id,
         |   coalesce(l.doc_id, s.doc_id) AS doc_id, l.r_lex AS rl, s.r_sem AS rs
         |  FROM lextop l FULL OUTER JOIN semtop s
         |   ON l.q_id = s.q_id AND l.doc_id = s.doc_id),
         |r AS (SELECT q_id, doc_id,
         |   (CASE WHEN rl IS NOT NULL THEN 1.0 / CAST(rl + 60 AS DOUBLE) ELSE 0.0 END)
         |   + (CASE WHEN rs IS NOT NULL THEN 1.0 / CAST(rs + 60 AS DOUBLE) ELSE 0.0 END) AS rrf,
         |   coalesce(rl, 0) AS r_lex, coalesce(rs, 0) AS r_sem FROM f)
         |SELECT q_id, doc_id, rn, r_lex, r_sem, rrf FROM (
         |  SELECT q_id, doc_id, r_lex, r_sem, rrf,
         |    row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rn
         |  FROM r) x
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
    },

    // knn_pq's replay CTEs plus the coarse-quantizer replay: cell
    // assignment and query probes rank the same full-vector d2 with
    // the same cell tiebreak as the Spark side, then the ADC scan is
    // restricted to the probed cells before scoring.
    "knn_ivfpq" -> {
      val cellD2 = s"${duckDot("e.embedding", "e.embedding")} - 2*${duckDot("e.embedding", "c.cent")} + ${duckDot("c.cent", "c.cent")}"
      s"""WITH $duckPqCtes,
         |cents AS (SELECT vec_id AS cell, embedding AS cent
         |  FROM embeddings WHERE vec_id < 50 AND embedding IS NOT NULL),
         |cellasg AS (SELECT vec_id, cell FROM (
         |   SELECT e.vec_id, c.cell,
         |     row_number() OVER (PARTITION BY e.vec_id
         |       ORDER BY $cellD2, c.cell) AS rk
         |   FROM embeddings e CROSS JOIN cents c
         |   WHERE e.embedding IS NOT NULL) t
         |  WHERE rk = 1),
         |probes AS (SELECT q_id, cell FROM (
         |   SELECT e.vec_id AS q_id, c.cell,
         |     row_number() OVER (PARTITION BY e.vec_id
         |       ORDER BY $cellD2, c.cell) AS cr
         |   FROM embeddings e CROSS JOIN cents c
         |   WHERE e.vec_id < 100 AND e.embedding IS NOT NULL) t
         |  WHERE cr <= 2),
         |sc AS (
         |  SELECT q_id, vec_id, $duckPqFixedSum AS raw
         |  FROM enc JOIN cellasg USING (vec_id)
         |   JOIN probes USING (cell) JOIN qtab USING (q_id, m, code)
         |  WHERE q_id <> vec_id
         |  GROUP BY q_id, vec_id
         |)
         |SELECT q_id, neighbor_id, rn, score FROM (
         |  SELECT q_id, vec_id AS neighbor_id, ${Q.duckRnd("raw", 6)} AS score,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${Q.duckRnd("raw", 6)} DESC, vec_id) AS rn
         |  FROM sc) t
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
    }
  )
}
