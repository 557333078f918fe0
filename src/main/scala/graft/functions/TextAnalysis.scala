package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Op, Q}
import graft.sources.Tables.t

/** Text-analysis operators for the training-data pipeline over `documents`
  * (north star in /root/repo/BASELINE.json; the reference itself has no
  * server-side text functions — SURVEY.md §2.10 — so these are the
  * engine-provided extensions, built purely from codegen'd built-ins and
  * higher-order functions, no UDFs).
  *
  * Cross-engine determinism: every hash is derived from md5 (identical in
  * Spark and DuckDB); folds are written as explicit left-to-right
  * `aggregate`/`list_reduce` so double/integer accumulation order is
  * pinned (SURVEY.md §7.5).
  */
object TextAnalysis {

  /** 60-bit deterministic hash from the md5 hex prefix — the one hash both
    * engines share. Spark dialect: the native codegen'd expression
    * (graft.plans.Md5Prefix60), value-identical to
    * `CAST(conv(substr(md5(s),1,15),16,10) AS BIGINT)`. */
  def hex60(s: String): String =
    s"graft_hex60($s)"

  /** DuckDB dialect of [[hex60]]. */
  def hex60Duck(s: String): String =
    s"CAST(concat('0x', substr(md5($s), 1, 15)) AS BIGINT)"

  private val STOP = "('the','a','of','to','and')"

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation). */
  val tokenCount: Q = (s, dir) =>
    t(s, dir, "documents").selectExpr(
      "doc_id",
      "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens_ws",
      "CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT) AS n_tokens_bpe",
      "CAST(length(text) AS BIGINT) AS n_chars_real")
      .orderBy("doc_id")

  val tokenCountOracle: String =
    """SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens_ws,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tokens_bpe,
       length(text) AS n_chars_real
       FROM documents ORDER BY doc_id"""

  /** Quality scoring: length, alpha ratio, stopword ratio, mean token
    * length — the standard cheap pre-training filters. */
  val qualityScore: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("doc_id", "text", "split(text, ' ') AS toks")
      .selectExpr(
        "doc_id",
        "CAST(length(text) AS BIGINT) AS n_chars_real",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        s"round(CAST(size(filter(toks, x -> x IN $STOP)) AS DOUBLE) / size(toks), 6) AS stopword_ratio",
        "round(CAST(length(regexp_replace(text, '[^a-z]', '')) AS DOUBLE) / length(text), 6) AS alpha_ratio",
        "round((CAST(length(text) AS DOUBLE) - (size(toks) - 1)) / size(toks), 6) AS avg_token_len")
      .orderBy("doc_id")

  val qualityScoreOracle: String =
    s"""SELECT doc_id, length(text) AS n_chars_real,
       len(string_split(text, ' ')) AS n_tokens,
       round(CAST(len(list_filter(string_split(text, ' '), x -> x IN $STOP)) AS DOUBLE)
         / len(string_split(text, ' ')), 6) AS stopword_ratio,
       round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
         / length(text), 6) AS alpha_ratio,
       round((CAST(length(text) AS DOUBLE) - (len(string_split(text, ' ')) - 1))
         / len(string_split(text, ' ')), 6) AS avg_token_len
       FROM documents ORDER BY doc_id"""

  /** Model-based quality FILTER (the fasttext-classifier stage of a
    * public data pipeline, e.g. CCNet/GPT-style "quality classifier"):
    * a fixed-weight logistic model over the interpretable features
    * above — stopword ratio, token count, average token length —
    * emitting a calibrated keep-probability and the binary keep
    * decision. The weights are frozen constants (a trained model's
    * coefficients would drop in the same way), so the op is a pure
    * per-row projection: embarrassingly parallel, no shuffle, and the
    * score is one exp() on a double built from exact rationals —
    * rounded to 6 dp for cross-engine parity like every libm output
    * here. */
  val qualityClassifier: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("doc_id", "text", "split(text, ' ') AS toks")
      .selectExpr("doc_id",
        s"CAST(size(filter(toks, x -> x IN $STOP)) AS DOUBLE)" +
          " / size(toks) AS sr",
        "CAST(size(toks) AS DOUBLE) AS nt",
        "(CAST(length(text) AS DOUBLE) - (size(toks) - 1)) / size(toks)" +
          " AS atl")
      .selectExpr("doc_id",
        "-2.95 + 8.0 * sr + 0.02 * nt + 0.4 * atl AS z")
      .selectExpr("doc_id",
        "round(1.0 / (1.0 + exp(-z)), 6) AS p_keep",
        "z >= 0 AS keep")
      .orderBy("doc_id")

  val qualityClassifierOracle: String =
    s"""WITH f AS (
         SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x IN $STOP))
             AS DOUBLE) / len(string_split(text, ' ')) AS sr,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
           (CAST(length(text) AS DOUBLE) -
             (len(string_split(text, ' ')) - 1))
             / len(string_split(text, ' ')) AS atl
         FROM documents),
       zz AS (SELECT doc_id, -2.95 + 8.0 * sr + 0.02 * nt + 0.4 * atl AS z
              FROM f)
       SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS p_keep,
         z >= 0 AS keep
       FROM zz ORDER BY doc_id"""

  /** n-gram-heuristic language ID: marker-token votes per language,
    * argmax with a fixed tiebreak order. (The harness corpus is synthetic
    * English-ish text, so 'en' dominates — the *operator* is the point.) */
  val langId: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("doc_id", "lang", "split(text, ' ') AS toks")
      .selectExpr(
        "doc_id", "lang AS lang_declared",
        "CAST(size(filter(toks, x -> x IN ('the','and','of','is'))) AS BIGINT) AS s_en",
        "CAST(size(filter(toks, x -> x IN ('der','und','die','ist'))) AS BIGINT) AS s_de",
        "CAST(size(filter(toks, x -> x IN ('el','los','es','y'))) AS BIGINT) AS s_es",
        "CAST(size(filter(toks, x -> x IN ('le','les','est','et'))) AS BIGINT) AS s_fr")
      .selectExpr("doc_id", "lang_declared", "s_en", "s_de", "s_es", "s_fr",
        """CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred""")
      .orderBy("doc_id")

  val langIdOracle: String =
    """WITH sc AS (
         SELECT doc_id, lang AS lang_declared,
           len(list_filter(string_split(text,' '),
             x -> x IN ('the','and','of','is'))) AS s_en,
           len(list_filter(string_split(text,' '),
             x -> x IN ('der','und','die','ist'))) AS s_de,
           len(list_filter(string_split(text,' '),
             x -> x IN ('el','los','es','y'))) AS s_es,
           len(list_filter(string_split(text,' '),
             x -> x IN ('le','les','est','et'))) AS s_fr
         FROM documents)
       SELECT doc_id, lang_declared, s_en, s_de, s_es, s_fr,
         CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
              WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
              WHEN s_es >= s_fr THEN 'es'
              ELSE 'fr' END AS lang_pred
       FROM sc ORDER BY doc_id"""

  /** Document fingerprinting: md5-based 60-bit content fingerprint of the
    * space-normalized text, plus a 31-ish-bit polynomial rolling hash over
    * the first 64 codepoints (both exact-arithmetic, both portable). */
  val fingerprint: Q = (s, dir) =>
    t(s, dir, "documents").selectExpr(
      "doc_id",
      hex60("regexp_replace(lower(text), ' +', ' ')") + " AS fp_md5",
      """CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
         ELSE aggregate(
           transform(sequence(1, least(length(text), 64)),
             i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)),
           CAST(0 AS BIGINT),
           (h, c) -> (h * 31 + c) % 1000000007) END AS fp_rolling""")
      .orderBy("doc_id")

  val fingerprintOracle: String =
    s"""SELECT doc_id,
       ${hex60Duck("regexp_replace(lower(text), ' +', ' ', 'g')")} AS fp_md5,
       CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
       ELSE list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, least(length(text), 64) + 1),
             i -> CAST(ascii(text[i]) AS BIGINT))),
         (h, c) -> (h * 31 + c) % 1000000007) END AS fp_rolling
       FROM documents ORDER BY doc_id"""

  /** Normalization-aware exact dedup: lower-case, digits→0, collapsed
    * whitespace — catches trivial near-identical copies before the
    * (costlier) MinHash pass. */
  val dedupNormalized: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("doc_id",
        hex60("regexp_replace(regexp_replace(lower(text), '[0-9]', '0'), ' +', ' ')")
          + " AS norm_hash")
      .groupBy("norm_hash")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")

  val dedupNormalizedOracle: String =
    s"""SELECT ${hex60Duck("regexp_replace(regexp_replace(lower(text), '[0-9]', '0', 'g'), ' +', ' ', 'g')")}
         AS norm_hash,
       min(doc_id) AS keep_doc_id, count(*) AS n_copies
       FROM documents GROUP BY 1 ORDER BY keep_doc_id"""

  /** Scrubbing pass (PII-style): mask digit runs, count the masks —
    * the redaction step of a training-data pipeline. */
  val textScrub: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("doc_id",
        "regexp_replace(text, '[0-9]+', '<NUM>') AS text_scrubbed",
        "CAST(size(regexp_extract_all(text, '[0-9]+', 0)) AS BIGINT) AS n_masked")
      .orderBy("doc_id")

  val textScrubOracle: String =
    """SELECT doc_id,
       regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS text_scrubbed,
       len(regexp_extract_all(text, '[0-9]+')) AS n_masked
       FROM documents ORDER BY doc_id"""

  /** Document-length histogram (100-char buckets) — the corpus-profile
    * aggregate every data pipeline starts with. */
  val docLengthHistogram: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("CAST(length(text) AS BIGINT) div 100 AS bucket")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket")

  val docLengthHistogramOracle: String =
    """SELECT length(text) // 100 AS bucket, count(*) AS n_docs
       FROM documents GROUP BY 1 ORDER BY bucket"""

  /** Deterministic bottom-k sampling: the k documents with the smallest
    * content-keyed hash. Unlike rand()-based sampling this is
    * reproducible across runs, engines and cluster sizes — the way a
    * training pipeline pins an eval split. */
  val sampleBottomK: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("doc_id", "lang",
        hex60("concat('sample_', CAST(doc_id AS STRING))") + " AS h")
      .orderBy("h")
      .limit(20)
      .selectExpr("doc_id", "lang", "h")
      .orderBy("doc_id")

  val sampleBottomKOracle: String =
    s"""SELECT doc_id, lang, h FROM (
         SELECT doc_id, lang,
           ${hex60Duck("concat('sample_', CAST(doc_id AS VARCHAR))")} AS h
         FROM documents ORDER BY h LIMIT 20)
       ORDER BY doc_id"""

  /** Stratified deterministic sampling: bottom-3 per language stratum via
    * a rank over the same portable hash (even per-stratum coverage with
    * the same reproducibility guarantee). */
  val sampleStratified: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("h")
    t(s, dir, "documents")
      .selectExpr("doc_id", "lang",
        hex60("concat('strat_', CAST(doc_id AS STRING))") + " AS h")
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 3)
      .select("lang", "rn", "doc_id")
      .orderBy("lang", "rn")
  }

  val sampleStratifiedOracle: String =
    s"""SELECT lang, rn, doc_id FROM (
         SELECT doc_id, lang,
           row_number() OVER (PARTITION BY lang ORDER BY
             ${hex60Duck("concat('strat_', CAST(doc_id AS VARCHAR))")}) AS rn
         FROM documents)
       WHERE rn <= 3 ORDER BY lang, rn"""

  /** Weighted priority sampling without replacement: top-5 docs per
    * source under priority key = hash(doc) div weight, weight =
    * n_chars — the integer-exact analog of Efraimidis–Spirakis
    * exponential-jump sampling (keys u^(1/w) / −ln(u)/w, "Weighted
    * random sampling with a reservoir", IPL 2006): dividing a uniform
    * 60-bit hash by the weight makes a doc's chance of owning a
    * small key rise ∝ its weight, while staying deterministic across
    * engines, runs and cluster sizes (no floats, no RNG state).
    * Token-weighted corpus subsampling is the standard way to cut a
    * source to a budget without biasing against long documents.
    *
    * Scale shape: one narrow projection + a per-source top-k rank —
    * Spark plans the rank filter as a two-stage WindowGroupLimit
    * (partial per-partition top-k before the exchange), so the shuffle
    * carries O(k·partitions) rows, not the corpus. */
  val sampleWeighted: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("priority", "doc_id")
    t(s, dir, "documents")
      .selectExpr("doc_id", "source", "n_chars",
        hex60("concat('wsamp_', CAST(doc_id AS STRING))") +
          " div n_chars AS priority")
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 5)
      .select("source", "rnk", "doc_id", "n_chars", "priority")
      .orderBy("source", "rnk")
  }

  val sampleWeightedOracle: String =
    s"""SELECT source, rnk, doc_id, n_chars, priority FROM (
         SELECT doc_id, source, n_chars,
           ${hex60Duck("concat('wsamp_', CAST(doc_id AS VARCHAR))")}
             // n_chars AS priority,
           row_number() OVER (PARTITION BY source ORDER BY
             ${hex60Duck("concat('wsamp_', CAST(doc_id AS VARCHAR))")}
               // n_chars, doc_id) AS rnk
         FROM documents)
       WHERE rnk <= 5 ORDER BY source, rnk"""

  /** Frequent items (heavy hitters): the corpus's top-10 tokens by
    * occurrence — explode → count → top-k, the exact-counting baseline of
    * the frequency-sketch family. */
  val frequentTokens: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("explode(split(text, ' ')) AS tok")
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(10)

  val frequentTokensOracle: String =
    """SELECT tok, count(*) AS n FROM (
         SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 10"""

  /** Per-language top-5 terms via the Misra-Gries frequent-items summary
    * (graft.plans.FrequentItemsAgg) — where `text_frequent_tokens`
    * shuffles every (token) pair, this holds <= 64 counters per group and
    * only the bounded maps cross the exchange (map-side
    * ObjectHashAggregate partials): the 100 TB shape for "top terms per
    * language" over an unbounded term universe. Capacity 1024 exceeds
    * the vocabulary at every tested scale (~31 at the gate scales;
    * ~310 at sf1, whose generator suffixes words per copy), so every
    * count is EXACT and the oracle recomputes them with a plain GROUP
    * BY; the approximation bounds for the under-capacity regime are
    * spec-pinned (FrequentItemsSpec). */
  val heavyHittersPerLang: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("lang", "explode(split(text, ' ')) AS term")
      .filter(col("term") =!= "")
      .groupBy("lang")
      .agg(expr("graft_frequent_items(term, 1024)").as("hh"))
      .selectExpr("lang", "posexplode(hh) AS (pos, e)")
      .filter(col("pos") < 5)
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("e.term").as("term"), col("e.cnt").as("cnt"))
      .orderBy("lang", "rank")

  val heavyHittersPerLangOracle: String =
    """WITH toks AS (
         SELECT lang, unnest(string_split(text, ' ')) AS term
         FROM documents),
       c AS (
         SELECT lang, term, count(*) AS cnt FROM toks
         WHERE term <> '' GROUP BY lang, term),
       r AS (
         SELECT lang, term, cnt,
           row_number() OVER (PARTITION BY lang
             ORDER BY cnt DESC, term ASC) AS rank
         FROM c)
       SELECT lang, rank, term, cnt FROM r WHERE rank <= 5
       ORDER BY lang, rank"""

  /** N-gram LM count table (the Kneser-Ney/ngram-LM prep stage): corpus
    * word-trigram counts, top-20 with lexicographic tie-break. One
    * per-row transform (no token self-join), one partial+final hash
    * aggregate, one top-k — the canonical count-collection shape that
    * at 100 TB runs with map-side combine carrying only (trigram, n)
    * pairs into the exchange. */
  val trigramCounts: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("split(text, ' ') AS tk") // split once, not per lambda elem
      .selectExpr(
        """explode(CASE WHEN size(tk) < 3 THEN array()
           ELSE transform(sequence(1, size(tk) - 2),
             i -> concat_ws(' ', element_at(tk, i),
                                 element_at(tk, i + 1),
                                 element_at(tk, i + 2)))
           END) AS tg""")
      .groupBy("tg")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tg").asc)
      .limit(20)

  val trigramCountsOracle: String =
    """SELECT tg, count(*) AS n FROM (
         SELECT unnest(CASE WHEN len(string_split(text, ' ')) < 3 THEN []
           ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
             i -> string_split(text, ' ')[i] || ' ' ||
                  string_split(text, ' ')[i+1] || ' ' ||
                  string_split(text, ' ')[i+2]) END) AS tg
         FROM documents)
       GROUP BY tg ORDER BY n DESC, tg ASC LIMIT 20"""

  /** BPE merge-candidate statistics (Sennrich, Haddow & Birch, "Neural
    * Machine Translation of Rare Words with Subword Units", ACL 2016 —
    * the tokenizer-training primitive): corpus-wide counts of adjacent
    * SYMBOL pairs inside words, whose argmax is the next merge a BPE
    * trainer would perform. One word-explode + one per-row pair
    * generation (no character self-join) + one partial+final count —
    * at 100 TB each merge iteration is exactly this job over the
    * current vocabulary's segmentation, so the counting shape IS the
    * trainer's inner loop. Top-10 with lexicographic tie-break. */
  val bpeMergeStep: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("explode(split(text, ' ')) AS w")
      .filter(length(col("w")) >= 2)
      // collapse to the (word, freq) vocabulary FIRST — Sennrich's
      // trainer operates on the vocab dict, and at corpus scale the
      // pair explode then runs over |vocab| rows, not |occurrences|
      .groupBy("w").agg(count(lit(1)).as("wn"))
      .selectExpr("wn",
        """explode(transform(sequence(1, length(w) - 1),
           i -> concat(substring(w, i, 1), substring(w, i + 1, 1))))
           AS pair""")
      .groupBy("pair")
      .agg(sum("wn").as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(10)

  val bpeMergeStepOracle: String =
    """SELECT pair, CAST(sum(wn) AS BIGINT) AS n FROM (
         SELECT wn, unnest(list_transform(range(1, length(w)),
           i -> substr(w, i, 1) || substr(w, i + 1, 1))) AS pair
         FROM (SELECT w, count(*) AS wn FROM (
                 SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents)
               WHERE length(w) >= 2 GROUP BY w))
       GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 10"""

  /** Number of merges the BPE trainer performs (small enough that the
    * DuckDB replay stays one readable unrolled SQL; each merge is one
    * vocab-sized aggregation + one vocab-sized fold). */
  private val BpeTrainSteps = 6

  /** FULL BPE TRAINER LOOP (Sennrich et al., ACL 2016 — the complete
    * algorithm [[bpeMergeStep]] runs one iteration of): K merges, each
    * = (1) corpus-weighted adjacent-pair counts over the CURRENT
    * segmentation, (2) argmax with lexicographic tie-break, (3) the
    * merge applied LEFT-TO-RIGHT to every vocab word. Driver-side loop
    * over K (like `embedding_kmeans`' unrolled Lloyd rounds) — the
    * only driver value per round is the single argmax row; all real
    * work is distributed over the (word, freq) VOCABULARY, which is
    * what bounds cost at 100 TB: after the one corpus-wide word count,
    * every iteration touches |vocab| rows, not |corpus|. The merge is
    * an explicit left-to-right `aggregate` fold (interpreted per
    * SYMBOL, but vocab-sized — not a corpus-path HOF), semantics
    * pinned by the identical `list_reduce` fold in the DuckDB replay:
    * an `aa`-run under pair (a,a) merges greedily from the left
    * because the freshly-merged symbol, not its parts, is what the
    * next comparison sees. Output: the merge table (step, pair, n). */
  /** The left-to-right merge of pair (a, b), as a Column fold over a
    * symbol array; literals go through Column lit() (never
    * string-spliced — tokens can carry quotes). */
  private def bpeMergeFold(seg: org.apache.spark.sql.Column,
      a: String, b: String): org.apache.spark.sql.Column =
    aggregate(seg, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - lit(1)),
            array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  // trained merge tables, memoized per harness dir: the trainer and
  // the encoder share one training pass per JVM
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Long, String, Long)]]()

  private def bpeMerges(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, String, Long)] =
    bpeMemo.computeIfAbsent(dir, _ => {
      var seg = t(s, dir, "documents")
        .selectExpr("explode(split(text, ' ')) AS w")
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("wn"))
        // regexp_extract_all, not split(w, ''): Spark's split carries
        // Java's limit=-1 trailing "" which would fabricate a phantom
        // symbol; '.' extraction is empty-free in both engines
        .selectExpr("regexp_extract_all(w, '.', 0) AS seg", "wn")
        .localCheckpoint(true)
      val merges = Seq.newBuilder[(Long, String, Long)]
      for (step <- 1 to BpeTrainSteps) {
        val best = seg
          .selectExpr("wn",
            """explode(transform(sequence(1, size(seg) - 1),
               i -> concat(element_at(seg, CAST(i AS INT)), ' ',
                           element_at(seg, CAST(i + 1 AS INT)))))
               AS pair""")
          .groupBy("pair").agg(sum("wn").as("n"))
          .orderBy(col("n").desc, col("pair").asc)
          .limit(1).head()
        val pair = best.getString(0)
        val Array(a, b) = pair.split(" ", 2)
        merges += ((step.toLong, pair, best.getLong(1)))
        // localCheckpoint per round caps the lineage at one fold deep
        // (K chained interpreted folds would re-run every prior round)
        val prev = seg
        seg = seg
          .select(bpeMergeFold(col("seg"), a, b).as("seg"), col("wn"))
          .localCheckpoint(true)
        prev.unpersist(): Unit
      }
      merges.result()
    })

  val bpeTrainK: Q = (s, dir) => {
    import s.implicits._
    bpeMerges(s, dir).toDF("step", "pair", "n").orderBy("step")
  }

  /** BPE ENCODE — the apply half of the tokenizer story: segment every
    * document with the K trained merges and report per-doc token
    * counts before/after. The merges fold over the DISTINCT-WORD
    * vocabulary (all words, including the length-1 words the trainer's
    * pair counts never see — a merge can't touch them but the encoder
    * must still count them), then the corpus-sized work is ONE
    * word-level join of exploded doc tokens against the encoded vocab
    * + a per-doc sum: at 100 TB the per-merge cost stays vocab-bound
    * and the corpus is touched exactly twice (vocab build + count
    * join), the same two passes any production tokenizer pipeline
    * spends. */
  val bpeEncodeDocs: Q = (s, dir) => {
    val merges = bpeMerges(s, dir)
    var vocab = t(s, dir, "documents")
      .selectExpr("explode(split(text, ' ')) AS w")
      .distinct()
      .selectExpr("w", "regexp_extract_all(w, '.', 0) AS seg")
      .localCheckpoint(true)
    merges.foreach { case (_, pair, _) =>
      val Array(a, b) = pair.split(" ", 2)
      val prev = vocab
      vocab = vocab
        .select(col("w"), bpeMergeFold(col("seg"), a, b).as("seg"))
        .localCheckpoint(true)
      prev.unpersist(): Unit
    }
    val wordLens = vocab.selectExpr("w",
      "CAST(size(seg) AS BIGINT) AS n_sym")
    t(s, dir, "documents")
      .selectExpr("doc_id", "explode(split(text, ' ')) AS w")
      .join(wordLens, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_bpe"))
      .orderBy("doc_id")
      .select("doc_id", "n_words", "n_bpe")
  }

  /** DuckDB replay of [[bpeEncodeDocs]]: the trainer's unrolled CTE
    * layers (shared builder) compute b1..bK, then the ALL-WORDS vocab
    * is folded through the same K merges and the per-doc counts join
    * against it. */
  lazy val bpeEncodeDocsOracle: String = {
    val enc0 =
      """SELECT w, regexp_extract_all(w, '.') AS seg FROM (
           SELECT DISTINCT unnest(string_split(text, ' ')) AS w
           FROM documents)"""
    def encMerged(v: String, b: String) =
      s"""SELECT w, list_reduce(
            list_prepend([]::VARCHAR[], list_transform(seg, c -> [c])),
            (acc, x) -> CASE WHEN len(acc) > 0
                AND acc[-1] = string_split($b.pair, ' ')[1]
                AND x[1] = string_split($b.pair, ' ')[2]
              THEN list_append(acc[:len(acc) - 1],
                string_split($b.pair, ' ')[1]
                  || string_split($b.pair, ' ')[2])
              ELSE list_append(acc, x[1]) END) AS seg
          FROM $v, $b"""
    val encLayers = (1 to BpeTrainSteps).map(k =>
      s"e$k AS (${encMerged(s"e${k - 1}", s"b$k")})").mkString(",\n")
    s"""WITH ${bpeTrainerCtes},
        e0 AS ($enc0),
        $encLayers
        SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
          CAST(sum(len(e.seg)) AS BIGINT) AS n_bpe
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents) d
        JOIN e$BpeTrainSteps e ON d.w = e.w
        GROUP BY d.doc_id ORDER BY d.doc_id"""
  }

  /** The trainer's unrolled DuckDB CTE chain (v0, b1, v1, …, bK):
    * pair counts, argmax, and the identical left-to-right
    * `list_reduce` fold (single-symbol lists folded into a VARCHAR[]
    * accumulator seeded by a prepended empty list) — shared by the
    * trainer and encoder oracles. */
  private lazy val bpeTrainerCtes: String = {
    val v0 =
      """SELECT regexp_extract_all(w, '.') AS seg, wn FROM (
           SELECT w, count(*) AS wn FROM (
             SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE length(w) >= 2 GROUP BY w)"""
    def best(v: String) =
      s"""SELECT pair, CAST(sum(wn) AS BIGINT) AS n FROM (
            SELECT unnest(list_transform(range(1, len(seg)),
              i -> seg[i] || ' ' || seg[i + 1])) AS pair, wn
            FROM $v)
          GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 1"""
    def merged(v: String, b: String) =
      s"""SELECT list_reduce(
            list_prepend([]::VARCHAR[], list_transform(seg, c -> [c])),
            (acc, x) -> CASE WHEN len(acc) > 0
                AND acc[-1] = string_split($b.pair, ' ')[1]
                AND x[1] = string_split($b.pair, ' ')[2]
              THEN list_append(acc[:len(acc) - 1],
                string_split($b.pair, ' ')[1]
                  || string_split($b.pair, ' ')[2])
              ELSE list_append(acc, x[1]) END) AS seg, wn
          FROM $v, $b"""
    val layers = (1 to BpeTrainSteps).map { k =>
      s"b$k AS (${best(s"v${k - 1}")})" +
        (if (k < BpeTrainSteps) s", v$k AS (${merged(s"v${k - 1}", s"b$k")})"
         else "")
    }.mkString(",\n")
    s"v0 AS ($v0),\n$layers"
  }

  /** DuckDB replay of [[bpeTrainK]]: the shared unrolled rounds, merge
    * table emitted per step. */
  lazy val bpeTrainKOracle: String = {
    val rows = (1 to BpeTrainSteps)
      .map(k => s"SELECT CAST($k AS BIGINT) AS step, pair, n FROM b$k")
      .mkString(" UNION ALL ")
    s"""WITH $bpeTrainerCtes
        SELECT step, pair, n FROM ($rows) ORDER BY step"""
  }

  // ---- unigram-LM tokenizer trainer (SentencePiece family) ----

  /** EM rounds / max piece length / seeded multi-char candidates. T=2
    * keeps the DuckDB replay one readable unrolled SQL while still
    * proving the EM loop (counts move between rounds, pruning fires). */
  private val UniLmRounds = 2
  private val UniLmMaxLen = 4
  private val UniLmSeedMulti = 24

  /** (piece, cnt) → (piece, lp): µ-scaled log-probability, the ONE
    * libm call per piece per round, rounded to BIGINT immediately (the
    * repo's libm discipline) so the Viterbi DP is pure integer
    * addition/max — bit-identical cross-engine. */
  private def uniLmLogp(vocab: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tot = vocab.agg(sum("cnt").cast("bigint").as("tot"))
    vocab.crossJoin(broadcast(tot))
      .selectExpr("piece",
        """CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
           * 1000000) AS BIGINT) AS lp""")
  }

  /** One Viterbi E-step over the distinct-word table: per word the
    * best (max total µ-logp) segmentation into vocab pieces, returned
    * as the piece multiset. DP is a left-to-right `aggregate` fold
    * (interpreted per position, but word-length-bounded and
    * VOCABULARY-sized — never a corpus-path HOF): best[i] = max over
    * vocab pieces ending at i of best[i-l] + lp(piece), argmax
    * tie-break = the SHORTEST winning piece (deterministic on both
    * engines); single-char coverage makes best[i] total. A second
    * fold backtracks the recorded piece lengths into the path. */
  private def uniLmSegmented(words: org.apache.spark.sql.DataFrame,
      logp: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    words
      .selectExpr("w", "wn",
        s"""explode(flatten(transform(sequence(1, length(w)),
            i -> transform(sequence(1, least($UniLmMaxLen, i)),
              l -> struct(i AS e, l AS l,
                substring(w, i - l + 1, l) AS piece))))) AS m""")
      .selectExpr("w", "wn", "m.e AS e", "m.l AS l", "m.piece AS piece")
      .join(broadcast(logp), "piece")
      .groupBy("w", "wn")
      .agg(expr("sort_array(collect_list(struct(e, l, lp)))").as("ms"))
      .selectExpr("w", "wn",
        """aggregate(sequence(1, length(w)),
             struct(array(CAST(0 AS BIGINT)) AS bs, array(0) AS pl),
             (acc, i) -> struct(
               concat(acc.bs, array(
                 array_max(transform(filter(ms, m -> m.e = i),
                   m -> element_at(acc.bs, i - m.l + 1) + m.lp)))) AS bs,
               concat(acc.pl, array(
                 array_min(transform(filter(ms, m -> m.e = i AND
                     element_at(acc.bs, i - m.l + 1) + m.lp =
                     array_max(transform(filter(ms, mm -> mm.e = i),
                       mm -> element_at(acc.bs, i - mm.l + 1) + mm.lp))),
                   m -> m.l)))) AS pl)) AS dp""")
      .selectExpr("w", "wn",
        """aggregate(sequence(1, length(w)),
             struct(length(w) AS pos,
               CAST(array() AS ARRAY<STRING>) AS ps),
             (acc, x) -> CASE WHEN acc.pos = 0 THEN acc ELSE struct(
               acc.pos - element_at(dp.pl, acc.pos + 1) AS pos,
               concat(acc.ps, array(substring(w,
                 acc.pos - element_at(dp.pl, acc.pos + 1) + 1,
                 element_at(dp.pl, acc.pos + 1)))) AS ps) END) AS bt""")
      .selectExpr("w", "wn", "bt.ps AS pieces")

  /** UNIGRAM-LM TOKENIZER TRAINER (Kudo, ACL 2018 — the SentencePiece
    * unigram model; hard-EM/Viterbi variant): the OTHER production
    * tokenizer family, complementing [[bpeTrainK]].
    *
    *  1. SEED: every single character (kept throughout for coverage)
    *     plus the top-24 multi-char substrings (length ≤ 4) by
    *     corpus-weighted occurrence count — the frequent-substring
    *     candidate pool standing in for SentencePiece's suffix-array
    *     seeding.
    *  2. EM (2 rounds, each = E: Viterbi-segment every DISTINCT word
    *     under the current µ-logp table; M: piece counts = word-freq-
    *     weighted usage in the Viterbi paths): hard EM — the Viterbi
    *     path stands in for the full forward-backward expectation,
    *     the documented fast variant of the SentencePiece trainer.
    *  3. PRUNE by likelihood contribution: a multi-char piece the
    *     E-step never uses contributes zero likelihood and is dropped
    *     (SentencePiece's prune-by-loss, degenerate-case exact);
    *     single chars smooth to count ≥ 1 (coverage must survive).
    *
    * BPE's scale discipline carries over verbatim: the corpus is
    * touched ONCE (the distinct-word count); every EM round works on
    * the vocabulary-sized word table, per-word cost bounded by word
    * length × max piece length. Output: the final vocab with usage
    * counts and µ-scaled log-probs — all integer except the per-piece
    * `ln`, µ-rounded immediately, so the DuckDB replay (the same two
    * rounds unrolled, same seed, same tie-breaks) is hash-exact. */
  val unigramTrain: Q = (s, dir) => {
    val words = t(s, dir, "documents")
      .selectExpr("explode(split(text, ' ')) AS w")
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).cast("bigint").as("wn"))
      .localCheckpoint(true)
    val subs = words
      .selectExpr("wn",
        s"""explode(flatten(transform(sequence(1, length(w)),
            i -> transform(sequence(1, least($UniLmMaxLen, i)),
              l -> substring(w, i - l + 1, l))))) AS piece""")
      .groupBy("piece").agg(sum("wn").cast("bigint").as("cnt"))
      .localCheckpoint(true)
    val singles = subs.filter("length(piece) = 1")
    var vocab = singles.unionAll(
      subs.filter("length(piece) > 1")
        .orderBy(col("cnt").desc, col("piece").asc)
        .limit(UniLmSeedMulti))
      .localCheckpoint(true)
    for (_ <- 1 to UniLmRounds) {
      val counts = uniLmSegmented(words, uniLmLogp(vocab))
        .selectExpr("wn", "explode(pieces) AS piece")
        .groupBy("piece").agg(sum("wn").cast("bigint").as("cnt"))
        .localCheckpoint(true)
      val prev = vocab
      vocab = singles.select("piece")
        .join(counts, Seq("piece"), "left_outer")
        .selectExpr("piece", "greatest(coalesce(cnt, 0L), 1L) AS cnt")
        .unionAll(counts.filter("length(piece) > 1"))
        .localCheckpoint(true)
      prev.unpersist(): Unit
    }
    vocab.crossJoin(broadcast(
        vocab.agg(sum("cnt").cast("bigint").as("tot"))))
      .selectExpr("piece", "cnt AS n_uses",
        """CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
           * 1000000) AS BIGINT) AS logp_micro""")
      .orderBy("piece")
  }

  /** DuckDB replay of [[unigramTrain]]: the same seed, the same two
    * unrolled EM rounds (µ-logp table → candidate-match join →
    * Viterbi DP with the shortest-winning-piece tie-break → backtrack
    * walk → weighted counts → prune/smooth).
    *
    * The DP and the backtrack are RECURSIVE CTEs, not list_reduce
    * folds, and every non-recursive CTE is AS MATERIALIZED — because
    * THREE distinct DuckDB-1.0.0 evaluator defects were reproduced
    * while building this oracle:
    *  1. list_reduce MANGLES struct accumulators (a {'bs':…,'pl':…}
    *     accumulator collapses to the last step);
    *  2. default CTE inlining MISALIGNS `unnest(list)` rows against
    *     sibling columns (one word's pieces attributed to another
    *     word's wn; a cross-joined scalar total likewise desynced
    *     from the very rows it summed — totals are therefore window
    *     sums `sum(cnt) OVER ()` on the SAME scan);
    *  3. even a FLAT-list list_reduce mis-associates its accumulator
    *     past a few hundred rows (sf1: the fold's own accumulator
    *     arrived as an element placeholder — conversion error or
    *     outright segfault).
    * list_filter/list_transform/list_min/list_max are reliable (the
    * proximity oracle leans on them at every scale), so the per-step
    * candidate scoring stays lambda-based while the SEQUENTIAL state
    * (DP table, path walk) advances one recursion level per position
    * — the engine-agnostic way to spell a fold. */
  /** One EM round's CTE block (`lp$r` → `v$r`), shared by the train
    * oracle (rounds 1..T) and the encode oracle (which appends one
    * EXTRA round under the FINAL vocab purely for its Viterbi walk —
    * `walk$r` IS the segmentation). */
  private def uniLmOracleRound(r: Int, prev: String): String = {
    val best =
      s"""list_max(list_transform(list_filter(ms,
           mm -> mm['e'] = i + 1),
           mm -> bs[CAST(i + 2 - mm['l'] AS INT)] + mm['lp']))"""
    val plv = "p.pl[CAST(k.pos + 1 AS INT)]"
    s"""lp$r AS MATERIALIZED (
       SELECT piece, CAST(round(ln(CAST(cnt AS DOUBLE)
         / CAST(sum(cnt) OVER () AS DOUBLE)) * 1000000)
         AS BIGINT) AS lp
       FROM $prev),
     ms$r AS MATERIALIZED (
       SELECT c.w, c.wn,
         list({'e': c.e, 'l': c.l, 'lp': p.lp} ORDER BY c.e, c.l)
           AS ms
       FROM cand c JOIN lp$r p ON c.piece = p.piece
       GROUP BY c.w, c.wn),
     dp$r AS (
       SELECT w, wn, ms, 0 AS i,
         [CAST(0 AS BIGINT)] AS bs, [CAST(0 AS BIGINT)] AS pl
       FROM ms$r
       UNION ALL
       SELECT w, wn, ms, i + 1,
         list_append(bs, $best),
         list_append(pl,
           list_min(list_transform(list_filter(ms,
             m -> m['e'] = i + 1 AND
               bs[CAST(i + 2 - m['l'] AS INT)] + m['lp'] = $best),
             m -> m['l'])))
       FROM dp$r WHERE i < length(w)),
     pl$r AS MATERIALIZED (
       SELECT w, wn, pl FROM dp$r WHERE i = length(w)),
     walk$r AS (
       SELECT w, wn, CAST(length(w) AS BIGINT) AS pos,
         CAST(NULL AS VARCHAR) AS piece
       FROM pl$r
       UNION ALL
       SELECT k.w, k.wn, k.pos - $plv,
         substr(k.w, CAST(k.pos - $plv + 1 AS INT),
           CAST($plv AS INT))
       FROM walk$r k JOIN pl$r p ON k.w = p.w
       WHERE k.pos > 0),
     cnt$r AS MATERIALIZED (
       SELECT piece, CAST(sum(wn) AS BIGINT) AS cnt FROM walk$r
       WHERE piece IS NOT NULL GROUP BY piece),
     v$r AS MATERIALIZED (
       SELECT s.piece,
         CAST(greatest(coalesce(c.cnt, 0), 1) AS BIGINT) AS cnt
       FROM (SELECT piece FROM v0 WHERE length(piece) = 1) s
       LEFT JOIN cnt$r c ON s.piece = c.piece
       UNION ALL
       SELECT piece, cnt FROM cnt$r WHERE length(piece) > 1)"""
  }

  /** The train oracle's shared CTE prefix: words/cand/subs/v0 + the
    * T unrolled EM rounds (ending at `v$UniLmRounds`). */
  private lazy val uniLmOracleBase: String = {
    val words =
      """SELECT w, CAST(count(*) AS BIGINT) AS wn FROM (
           SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE length(w) >= 1 GROUP BY w"""
    val cand =
      s"""SELECT w, wn, m['e'] AS e, m['l'] AS l, m['piece'] AS piece
          FROM (
            SELECT w, wn,
              unnest(flatten(list_transform(range(1, length(w) + 1),
                i -> list_transform(range(1, least($UniLmMaxLen, i) + 1),
                  l -> {'e': i, 'l': l,
                        'piece': substr(w, CAST(i - l + 1 AS INT),
                                        CAST(l AS INT))})))) AS m
            FROM words)"""
    val subs =
      """SELECT piece, CAST(sum(wn) AS BIGINT) AS cnt
         FROM cand GROUP BY piece"""
    val v0 =
      s"""SELECT piece, cnt FROM subs WHERE length(piece) = 1
          UNION ALL SELECT piece, cnt FROM (
            SELECT piece, cnt FROM subs WHERE length(piece) > 1
            ORDER BY cnt DESC, piece ASC LIMIT $UniLmSeedMulti)"""
    val rounds = (1 to UniLmRounds)
      .map(r => uniLmOracleRound(r, s"v${r - 1}")).mkString(",\n")
    s"""words AS MATERIALIZED ($words),
       cand AS MATERIALIZED ($cand),
       subs AS MATERIALIZED ($subs),
       v0 AS MATERIALIZED ($v0),
       $rounds"""
  }

  lazy val unigramTrainOracle: String =
    s"""WITH RECURSIVE $uniLmOracleBase
       SELECT piece, cnt AS n_uses,
         CAST(round(ln(CAST(cnt AS DOUBLE)
           / CAST(sum(cnt) OVER () AS DOUBLE)) * 1000000)
           AS BIGINT) AS logp_micro
       FROM v$UniLmRounds ORDER BY piece"""

  /** The trained unigram vocab as a cross-JVM memo (tiny: single
    * chars + ≤ 24 multi-char pieces), so the ENCODE query doesn't
    * re-run the 2-round EM the TRAIN query already proved — the
    * Tables.persistentMemo discipline (fingerprint-keyed, rebuilt on
    * corpus change). */
  private def uniLmVocab(s: org.apache.spark.sql.SparkSession,
      dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.sources.Tables.persistentMemo(s, "unilm_vocab",
      graft.sources.Tables.fingerprint(dir, "documents")) {
      unigramTrain(s, dir)
    }

  /** UNIGRAM ENCODE — the apply half of [[unigramTrain]], the way
    * [[bpeEncodeDocs]] applies [[bpeTrainK]]: Viterbi-segment the
    * FULL corpus under the trained µ-logp vocabulary and report, per
    * document, the token count, the whitespace word count, and the
    * tokens-per-word ratio in exact integer ppm (the fertility /
    * compression statistic tokenizer evaluations quote).
    *
    * Scale shape (100 TB): identical to the trainer's — the DP runs
    * once per DISTINCT word (vocabulary-sized, never corpus-sized);
    * the corpus is touched twice with narrow projections (word
    * frequency count, then per-doc word explode joined against the
    * per-word token counts). The vocab itself loads from the
    * fingerprint-keyed memo, so encode never re-pays EM training.
    * DuckDB replays by appending ONE extra EM-round CTE block under
    * the final vocab (its recursive Viterbi walk IS the
    * segmentation), then aggregating the walk per document. */
  val unigramEncodeDocs: Q = (s, dir) => {
    val lp = uniLmVocab(s, dir).selectExpr("piece", "logp_micro AS lp")
    val occ = t(s, dir, "documents")
      .selectExpr("doc_id", "explode(split(text, ' ')) AS w")
      .filter(length(col("w")) >= 1)
    val words = occ.groupBy("w")
      .agg(count(lit(1)).cast("bigint").as("wn"))
      .localCheckpoint(true)
    val wordTok = uniLmSegmented(words, lp)
      .selectExpr("w", "CAST(size(pieces) AS BIGINT) AS n_tok")
    occ.join(wordTok, "w")
      .groupBy("doc_id")
      .agg(sum("n_tok").cast("bigint").as("n_tokens"),
        count(lit(1)).cast("bigint").as("n_words"))
      .selectExpr("doc_id", "n_tokens", "n_words",
        "(n_tokens * CAST(1000000 AS BIGINT)) div n_words " +
          "AS tokens_per_word_ppm")
      .orderBy("doc_id")
  }

  lazy val unigramEncodeDocsOracle: String = {
    val enc = UniLmRounds + 1
    s"""WITH RECURSIVE $uniLmOracleBase,
       ${uniLmOracleRound(enc, s"v$UniLmRounds")},
       wordtok AS MATERIALIZED (
         SELECT w, CAST(count(*) AS BIGINT) AS n_tok FROM walk$enc
         WHERE piece IS NOT NULL GROUP BY w),
       occ AS MATERIALIZED (
         SELECT doc_id, w FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents)
         WHERE length(w) >= 1)
       SELECT o.doc_id,
         CAST(sum(t.n_tok) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST((CAST(sum(t.n_tok) AS BIGINT) * 1000000)
           // CAST(count(*) AS BIGINT) AS BIGINT) AS tokens_per_word_ppm
       FROM occ o JOIN wordtok t ON o.w = t.w
       GROUP BY o.doc_id ORDER BY o.doc_id"""
  }

  /** Bigram collocations scored by pointwise mutual information:
    * PMI = ln(p(ab) / (p(a)·p(b))) over word bigrams — the classic
    * collocation-mining statistic. Probabilities are exact rationals of
    * counts; only the final ln is rounded. */
  val bigramPmi: Q = (s, dir) => {
    val toks = t(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
    val bigrams = toks
      .selectExpr(
        """explode(CASE WHEN size(toks) < 2 THEN array()
           ELSE transform(sequence(1, size(toks) - 1),
             i -> struct(element_at(toks, i) AS w1,
                         element_at(toks, i + 1) AS w2)) END) AS bg""")
      .selectExpr("bg.w1 AS w1", "bg.w2 AS w2")
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_bg"))
    val unis = toks.selectExpr("explode(toks) AS w")
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val totBg = bigrams.agg(sum("n_bg").as("tot_bg"))
    val totW = unis.agg(sum("n_w").as("tot_w"))
    bigrams
      .join(unis.selectExpr("w AS w1", "n_w AS n_w1"), "w1")
      .join(unis.selectExpr("w AS w2", "n_w AS n_w2"), "w2")
      .crossJoin(broadcast(totBg)).crossJoin(broadcast(totW))
      .selectExpr("w1", "w2", "n_bg",
        """round(ln((CAST(n_bg AS DOUBLE) / tot_bg) /
           ((CAST(n_w1 AS DOUBLE) / tot_w) *
            (CAST(n_w2 AS DOUBLE) / tot_w))), 6) AS pmi""")
      .orderBy(col("n_bg").desc, col("w1").asc, col("w2").asc)
      .limit(20)
  }

  val bigramPmiOracle: String =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       bigrams AS (
         SELECT bg['w1'] AS w1, bg['w2'] AS w2, count(*) AS n_bg FROM (
           SELECT unnest(CASE WHEN len(toks) < 2 THEN []
             ELSE list_transform(range(1, len(toks)),
               i -> {'w1': toks[i], 'w2': toks[i + 1]}) END) AS bg
           FROM toks)
         GROUP BY 1, 2),
       unis AS (
         SELECT w, count(*) AS n_w FROM (
           SELECT unnest(toks) AS w FROM toks) GROUP BY w),
       tots AS (
         SELECT (SELECT sum(n_bg) FROM bigrams) AS tot_bg,
                (SELECT sum(n_w) FROM unis) AS tot_w)
       SELECT b.w1, b.w2, b.n_bg,
         round(ln((CAST(b.n_bg AS DOUBLE) / tot_bg) /
           ((CAST(u1.n_w AS DOUBLE) / tot_w) *
            (CAST(u2.n_w AS DOUBLE) / tot_w))), 6) AS pmi
       FROM bigrams b
       JOIN unis u1 ON b.w1 = u1.w
       JOIN unis u2 ON b.w2 = u2.w
       CROSS JOIN tots
       ORDER BY n_bg DESC, w1 ASC, w2 ASC LIMIT 20"""

  /** TextRank keyword extraction (Mihalcea & Tarau, "TextRank:
    * Bringing Order into Text", EMNLP 2004): weighted PageRank over the
    * word co-occurrence graph — nodes are tokens, edges are adjacent
    * bigrams weighted by corpus count (symmetrized, per the paper's
    * undirected formulation), damping 0.85, a FIXED 3 iterations
    * unrolled on both engines. All arithmetic is INTEGER-exact in
    * micro-units: ranks start at 10⁶, each edge contributes
    * `(rank·weight) div out_weight`, and the damped update is
    * `150000 + (17·Σcontrib) div 20` — BIGINT floor division at every
    * step, so both engines produce bit-identical ranks and the hash
    * compare needs no float canonicalization anywhere (the same
    * determinism treatment as embedding_kmeans / text_lm_perplexity).
    *
    * Scale shape (100 TB): the co-occurrence graph is VOCABULARY-sized
    * (≪ corpus, like the LM count tables) — one corpus-tokens shuffle
    * builds it, after which each iteration joins the tiny rank table
    * (broadcast) onto the edge list and aggregates by dst: per-iteration
    * cost is one edge-table-sized exchange, independent of corpus size.
    * Each iteration's rank table is localCheckpointed so no plan
    * re-executes earlier passes (the kmeans lesson, 2.7→1.6 s). */
  val textRankKeywords: Q = (s, dir) => {
    val bg = t(s, dir, "documents")
      .selectExpr("split(text, ' ') AS toks")
      .selectExpr(
        """explode(CASE WHEN size(toks) < 2 THEN array()
           ELSE transform(sequence(1, size(toks) - 1),
             i -> struct(element_at(toks, i) AS w1,
                         element_at(toks, i + 1) AS w2)) END) AS bg""")
      .selectExpr("bg.w1 AS w1", "bg.w2 AS w2")
    val edges = bg.selectExpr("w1 AS src", "w2 AS dst")
      .unionAll(bg.selectExpr("w2 AS src", "w1 AS dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val outw = edges.groupBy("src").agg(sum("c").as("ow"))
    val annotated = edges.join(outw, "src")
    var rank = outw.selectExpr("src AS token",
      "CAST(1000000 AS BIGINT) AS r")
    for (_ <- 1 to 3) {
      rank = annotated.join(broadcast(rank), col("src") === col("token"))
        .selectExpr("dst", "(r * c) div ow AS contrib")
        .groupBy("dst")
        .agg(expr("CAST(150000 + (17 * sum(contrib)) div 20 AS BIGINT)")
          .as("r"))
        .selectExpr("dst AS token", "r")
        .localCheckpoint()
    }
    rank.selectExpr("token", "r AS rank_micro")
      .orderBy(col("rank_micro").desc, col("token").asc)
      .limit(15)
  }

  val textRankKeywordsOracle: String = {
    // one damped-update iteration as SQL, parameterized by the previous
    // rank CTE's name — the two dialects of the update must stay twins
    def iter(prev: String): String =
      s"""SELECT e.dst AS token,
           CAST(150000 + (17 * CAST(sum((r.r * e.c) // o.ow) AS BIGINT))
             // 20 AS BIGINT) AS r
         FROM edges e
         JOIN $prev r ON e.src = r.token
         JOIN outw o ON e.src = o.src
         GROUP BY e.dst"""
    s"""WITH toks AS (
         SELECT string_split(text, ' ') AS tk FROM documents),
       bg AS (
         SELECT tk[i] AS w1, tk[i + 1] AS w2
         FROM toks, LATERAL (SELECT unnest(range(1, len(tk))) AS i) u),
       edges AS (
         SELECT src, dst, CAST(count(*) AS BIGINT) AS c FROM (
           SELECT w1 AS src, w2 AS dst FROM bg
           UNION ALL
           SELECT w2 AS src, w1 AS dst FROM bg)
         GROUP BY src, dst),
       outw AS (
         SELECT src, CAST(sum(c) AS BIGINT) AS ow FROM edges GROUP BY src),
       r0 AS (
         SELECT src AS token, CAST(1000000 AS BIGINT) AS r FROM outw),
       i1 AS (${iter("r0")}),
       i2 AS (${iter("i1")}),
       i3 AS (${iter("i2")})
       SELECT token, r AS rank_micro FROM i3
       ORDER BY rank_micro DESC, token ASC LIMIT 15"""
  }

  /** Bigram-LM perplexity scoring — the CCNet-style quality filter
    * (Wenzek et al., "CCNet: Extracting high quality monolingual
    * datasets from web crawl data", LREC 2020): train an add-1-smoothed
    * bigram language model on the corpus, then score every document by
    * its average negative log-likelihood under that model —
    * P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V). Every count is
    * integer-exact; each per-bigram -ln term is rounded to 6 dp and
    * DECIMAL-summed so the per-document fold is partition-order
    * independent; the final mean divides two exactly-agreed numbers.
    * Documents with fewer than two tokens have no bigrams and drop out.
    *
    * Scale (100 TB): the LM tables (bigram/unigram counts) are one
    * corpus-tokens shuffle to build and orders of magnitude smaller
    * than the corpus — they join back broadcast when they fit and
    * hash-partitioned on the token key otherwise (Spark's planner
    * decides from size); the corpus text itself shuffles only on the
    * (w1,w2) scoring join keys, and the per-doc aggregation has O(1)
    * state. In production the trained counts would be snapshotted once
    * and reused across scoring runs, like [[centroidIndex]]. */
  val lmPerplexity: Q = (s, dir) => {
    val toks = t(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
    val docBigrams = toks
      .selectExpr("doc_id",
        """explode(CASE WHEN size(toks) < 2 THEN array()
           ELSE transform(sequence(1, size(toks) - 1),
             i -> struct(element_at(toks, i) AS w1,
                         element_at(toks, i + 1) AS w2)) END) AS bg""")
      .selectExpr("doc_id", "bg.w1 AS w1", "bg.w2 AS w2")
    val bgCounts = docBigrams
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_bg"))
    val unis = toks.selectExpr("explode(toks) AS w")
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val vocab = unis.agg(count(lit(1)).as("v"))
    docBigrams
      .join(bgCounts, Seq("w1", "w2"))
      .join(unis.selectExpr("w AS w1", "n_w AS n_w1"), "w1")
      .crossJoin(broadcast(vocab))
      .selectExpr("doc_id",
        """CAST(round(-ln((CAST(n_bg AS DOUBLE) + 1) /
           (CAST(n_w1 AS DOUBLE) + v)), 6) AS DECIMAL(18,6)) AS nll""")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bg"), sum("nll").as("snll"))
      // the mean rounds half-up in EXACT integer µ-units (the
      // `centroids` lesson: round(double, 6) hits real half-ties where
      // Spark and DuckDB disagree; integer arithmetic cannot)
      .selectExpr("doc_id", "n_bg",
        """CAST(CASE WHEN snll >= 0
             THEN (2 * CAST(snll * 1000000 AS BIGINT) + n_bg)
               div (2 * n_bg)
             ELSE -((2 * CAST(-snll * 1000000 AS BIGINT) + n_bg)
               div (2 * n_bg))
           END AS DOUBLE) / 1000000.0D AS avg_nll""")
      .orderBy("doc_id")
  }

  val lmPerplexityOracle: String =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       db AS (
         SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
           SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []
             ELSE list_transform(range(1, len(toks)),
               i -> {'w1': toks[i], 'w2': toks[i + 1]}) END) AS bg
           FROM toks)),
       bgc AS (SELECT w1, w2, count(*) AS n_bg FROM db GROUP BY 1, 2),
       unis AS (
         SELECT w, count(*) AS n_w FROM (
           SELECT unnest(toks) AS w FROM toks) GROUP BY w),
       vocab AS (SELECT count(*) AS v FROM unis),
       agg AS (
         SELECT d.doc_id, count(*) AS n_bg,
           CAST(sum(CAST(round(-ln((CAST(b.n_bg AS DOUBLE) + 1) /
               (CAST(u.n_w AS DOUBLE) + v)), 6) AS DECIMAL(18,6)))
             * 1000000 AS BIGINT) AS s
         FROM db d
         JOIN bgc b ON d.w1 = b.w1 AND d.w2 = b.w2
         JOIN unis u ON d.w1 = u.w
         CROSS JOIN vocab
         GROUP BY d.doc_id)
       SELECT doc_id, n_bg,
         CAST(CASE WHEN s >= 0 THEN (2 * s + n_bg) // (2 * n_bg)
              ELSE -((2 * (-s) + n_bg) // (2 * n_bg)) END AS DOUBLE)
           / 1000000.0 AS avg_nll
       FROM agg ORDER BY doc_id"""

  /** Count-Min frequency estimation (graft.plans.CmCount, the engine's
    * third custom sketch aggregate): bounded-state token-frequency
    * estimates next to their exact counts. The estimate can only
    * overcount (bucket collisions), never undercount — asserted by the
    * oracle producing the IDENTICAL estimates from the same md5-derived
    * row hashes. At 100 TB the sketch answers "how often does X occur"
    * with 8 KB of state per group instead of a full token group-by. */
  val cmFrequency: Q = (s, dir) => {
    val toks = t(s, dir, "documents")
      .selectExpr("explode(split(text, ' ')) AS token")
    def est(p: String) = expr(s"graft_cm_count(token, '$p')").as(s"est_$p")
    def exact(p: String) =
      sum(when(col("token") === p, 1L).otherwise(0L)).as(s"exact_$p")
    toks.agg(
      est("join"), exact("join"),
      est("scan"), exact("scan"),
      est("zzznotaword"), exact("zzznotaword"))
  }

  val cmFrequencyOracle: String = {
    // the exact Count-Min estimate in SQL: per row j, the count of ALL
    // token instances landing in the probe's bucket; estimate = min_j.
    // Bucket j is byte j of md5('cm_' + token) — hex chars 2j+1..2j+2.
    def bucket(j: Int, tok: String) =
      s"CAST(concat('0x', substr(md5(concat('cm_', $tok)), ${2 * j + 1}, 2)) AS BIGINT)"
    def est(p: String) =
      (0 until 4).map { j =>
        s"""(SELECT count(*) FROM toks
            WHERE ${bucket(j, "token")} = ${bucket(j, s"'$p'")})"""
      }.mkString("LEAST(", ", ", s") AS est_$p")
    def exact(p: String) =
      s"(SELECT count(*) FROM toks WHERE token = '$p') AS exact_$p"
    s"""WITH toks AS (
         SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       SELECT
         ${est("join")}, ${exact("join")},
         ${est("scan")}, ${exact("scan")},
         ${est("zzznotaword")}, ${exact("zzznotaword")}"""
  }

  /** Sequence packing (the concat-and-chunk step that turns a document
    * corpus into fixed-length training windows): per source shard, docs
    * are laid out in doc_id order, token counts accumulate, and each doc
    * gets its context-window id (floor(tokens_before / capacity)), its
    * offset inside the window, and whether it spans a window boundary.
    * This is the fully parallel packing LLM training actually uses
    * (documents concatenated, then split every `cap` tokens) — no
    * bin-packing recursion, just cumulative sums.
    *
    * The per-source running sum is computed WITHOUT a one-partition-per-
    * source window (which would serialize a giant source through one
    * task's sort): doc_ids are sub-sharded by `doc_id div stride`
    * (monotone in doc_id, so shard order = doc order), the cumsum runs
    * within each (source, shard) in parallel, and each shard adds its
    * predecessor shards' token total from a per-shard offset table that
    * is smaller than the corpus by the stride factor — the same
    * bucketed-rank + offset-table construction as corpus_global_shuffle.
    * tok_before is identical to the single-window formulation (the
    * decomposition is a pure re-association of the same sum); repeat the
    * reduction recursively if even the offset table is huge. */
  val packSequences: Q = (s, dir) => {
    val cap = 512
    val stride = 128
    val base = t(s, dir, "documents")
      .selectExpr("source", "doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tok",
        s"doc_id div $stride AS sub")
    val offsets = base.groupBy("source", "sub")
      .agg(sum("n_tok").as("sub_tok"))
      .selectExpr("source", "sub",
        """CAST(coalesce(sum(sub_tok) OVER (PARTITION BY source
           ORDER BY sub ROWS BETWEEN UNBOUNDED PRECEDING AND 1
           PRECEDING), 0) AS BIGINT) AS sub_before""")
    base
      .selectExpr("source", "doc_id", "n_tok", "sub",
        s"""CAST(coalesce(sum(n_tok) OVER (PARTITION BY source, sub
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
            PRECEDING), 0) AS BIGINT) AS in_sub_before""")
      .join(offsets, Seq("source", "sub"))
      .selectExpr("source", "doc_id", "n_tok",
        "sub_before + in_sub_before AS tok_before")
      .selectExpr("source", "doc_id", "n_tok",
        s"CAST(floor(tok_before / $cap) AS BIGINT) AS window_id",
        s"tok_before % $cap AS win_offset",
        s"(tok_before % $cap) + n_tok > $cap AS spans_boundary")
      .orderBy("source", "doc_id")
  }

  val packSequencesOracle: String =
    """WITH d AS (
         SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
         FROM documents),
       c AS (
         SELECT source, doc_id, n_tok,
           CAST(coalesce(sum(n_tok) OVER (PARTITION BY source
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
             PRECEDING), 0) AS BIGINT) AS tok_before
         FROM d)
       SELECT source, doc_id, n_tok,
         CAST(floor(tok_before / 512) AS BIGINT) AS window_id,
         tok_before % 512 AS win_offset,
         (tok_before % 512) + n_tok > 512 AS spans_boundary
       FROM c ORDER BY source, doc_id"""

  /** Deterministic mixture weighting (the source-rebalancing step of a
    * training-data pipeline): each language keeps documents at a declared
    * rate (en 1.0, zh/de 0.5, fr/es 0.25) by comparing the md5-derived
    * 60-bit doc hash against rate·2^60 — the same decide-by-hash trick as
    * the bottom-k sampler, so membership is a pure function of doc_id:
    * reproducible across runs, engines, and cluster sizes, with no
    * coordination (each partition decides locally; the only shuffle is
    * the summary aggregation). */
  val mixWeighted: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("doc_id", "lang",
        hex60("concat('mix_', CAST(doc_id AS STRING))") + " AS h")
      .selectExpr("lang",
        """CASE lang WHEN 'en' THEN 1152921504606846976
                     WHEN 'zh' THEN 576460752303423488
                     WHEN 'de' THEN 576460752303423488
                     ELSE 288230376151711744 END AS thr""",
        "h")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("h") < col("thr"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("lang")

  val mixWeightedOracle: String =
    s"""SELECT lang, count(*) AS n_total,
       CAST(sum(
         CASE WHEN ${hex60Duck("concat('mix_', CAST(doc_id AS VARCHAR))")}
             < CASE lang WHEN 'en' THEN 1152921504606846976
                         WHEN 'zh' THEN 576460752303423488
                         WHEN 'de' THEN 576460752303423488
                         ELSE 288230376151711744 END
           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       FROM documents GROUP BY lang ORDER BY lang"""

  /** Benchmark decontamination (the eval-set overlap check every training
    * pipeline runs before shipping data): docs with doc_id < 20 act as the
    * held-out benchmark; every training doc (doc_id >= 20) reports how
    * many distinct word-5-grams it shares with the benchmark set and with
    * how many benchmark docs it collides. The join key is the md5-derived
    * 60-bit hash of each 5-gram, so at scale this is a hash semi-join on
    * fixed-width longs — the benchmark side (small by construction) is
    * broadcast, and the corpus side never shuffles. */
  /** Shared 5-gram derivation for the decontamination operators: one row
    * per DISTINCT gram hash per doc, via the native one-pass kernel
    * (graft.plans.NgramHashes) — the equivalent transform/slice/concat_ws
    * lambda chain evaluates interpreted per gram and dominated the
    * runtime (measured 3.1 s of the 3.6 s total at sf0.1 just building
    * grams). Any change to the gram width, tokenizer, or hash scheme must
    * change HERE and in [[gramsCte]] together — they are the two dialects
    * of one definition. */
  private def gramRows(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "documents")
      .selectExpr("doc_id", "explode(graft_ngram_hashes(text, 5)) AS g")

  /** DuckDB twin of [[gramRows]] — a complete `g AS (...)` CTE body. */
  private val gramsCte: String =
    s"""g AS (
         SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1),
           i -> ${hex60Duck(
             "array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' ')")})))
           AS g
         FROM documents)"""

  val decontamOverlap: Q = (s, dir) => {
    val grams = gramRows(s, dir)
    // Pre-aggregate the benchmark side to ONE row per gram (gram → the
    // set of bench docs containing it): the join then emits one row per
    // matching train gram instead of one per (gram × bench doc) pair —
    // with a small shared vocabulary that pair expansion dominated the
    // runtime (measured 4.4 s → 0.6 s at sf0.1). Train gram lists are
    // already distinct, so count(*) after the join = shared-gram count.
    val bench = grams.filter(col("doc_id") < 20)
      .groupBy(col("g").as("bg"))
      .agg(collect_set(col("doc_id")).as("b_ids"))
    val train = grams.filter(col("doc_id") >= 20)
    train.join(broadcast(bench), col("g") === col("bg"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shared_grams"),
        size(array_distinct(flatten(collect_list(col("b_ids")))))
          .cast("long").as("n_bench_docs"))
      .orderBy("doc_id")
  }

  val decontamOverlapOracle: String =
    s"""WITH $gramsCte,
       bench AS (SELECT doc_id AS b_id, g AS bg FROM g WHERE doc_id < 20),
       train AS (SELECT * FROM g WHERE doc_id >= 20)
       SELECT doc_id,
         count(DISTINCT g) AS n_shared_grams,
         count(DISTINCT b_id) AS n_bench_docs
       FROM train JOIN bench ON g = bg
       GROUP BY doc_id ORDER BY doc_id"""

  /** Bloom-filter decontamination — the broadcast-filter variant of
    * decontam_overlap for when even a broadcast semi-join is too heavy:
    * the benchmark set's 5-gram hashes build an 8 KB Bloom filter
    * (graft.plans.BloomBuild, merged by bitwise OR), which probes every
    * training gram MAP-SIDE as a plan literal — at 100 TB the corpus
    * never shuffles and never hash-joins; each gram pays one md5 + 4 bit
    * tests. Flags are exact-or-false-positive (never false-negative), the
    * right direction for contamination screening. The oracle reproduces
    * the filter bit-for-bit in SQL (including any false positives), so
    * the check is hash-exact. */
  val decontamBloom: Q = (s, dir) => {
    val grams = gramRows(s, dir)
      .selectExpr("doc_id", "CAST(g AS STRING) AS g")
    val bf = grams.filter(col("doc_id") < 20)
      .agg(expr("graft_bloom_build(g)")).head.getAs[Array[Byte]](0)
    grams.filter(col("doc_id") >= 20)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(call_function("graft_bloom_contains", lit(bf), col("g")),
          1L).otherwise(0L)).as("n_bloom_hits"))
      .filter(col("n_bloom_hits") > 0)
      .orderBy("doc_id")
  }

  val decontamBloomOracle: String = {
    // bit j of a gram: bytes 2j..2j+1 of md5('bf_' + gram) = hex chars
    // 4j+1..4j+4 — the exact BloomUtil layout
    def bit(j: Int) =
      s"CAST(concat('0x', substr(md5(concat('bf_', g)), ${4 * j + 1}, 4)) AS BIGINT)"
    val bits = (0 until 4).map(bit).mkString("[", ", ", "]")
    s"""WITH $gramsCte,
       gs AS (SELECT doc_id, CAST(g AS VARCHAR) AS g FROM g),
       bench_bits AS (
         SELECT DISTINCT unnest($bits) AS bit
         FROM (SELECT DISTINCT g FROM gs WHERE doc_id < 20)),
       tb AS (
         SELECT doc_id, g, unnest($bits) AS bit
         FROM gs WHERE doc_id >= 20),
       hits AS (
         SELECT doc_id, g FROM tb JOIN bench_bits USING (bit)
         GROUP BY doc_id, g HAVING count(*) = 4),
       agg AS (
         SELECT t.doc_id, count(*) AS n_grams, count(h.g) AS n_bloom_hits
         FROM (SELECT doc_id, g FROM gs WHERE doc_id >= 20) t
         LEFT JOIN hits h ON t.doc_id = h.doc_id AND t.g = h.g
         GROUP BY t.doc_id)
       SELECT doc_id, n_grams, n_bloom_hits FROM agg
       WHERE n_bloom_hits > 0 ORDER BY doc_id"""
  }

  /** The whole training-data pipeline as ONE declarative plan — the
    * flagship composition the engine exists for: quality filter (≥ 30
    * tokens) → exact dedup (keep the smallest doc_id per content hash) →
    * near-dedup (drop the larger side of every verified MinHash pair,
    * computed corpus-wide) → mixture weighting (decide-by-hash per
    * language) → sequence packing (concat-and-chunk per source). Every
    * stage is the already-verified operator; Catalyst fuses the chain, so
    * one job runs filter+dedup map-side, two hash shuffles (content hash,
    * near-dup semi-join), and the packing window — no intermediate
    * materialization a 100 TB run would have to write out. */
  val pipelineCorpusPrep: Q = (s, dir) => {
    import graft.operators.Dedup
    val docs = t(s, dir, "documents")
      .selectExpr("doc_id", "source", "lang", "text",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tok")
      .filter(col("n_tok") >= 30)
    val keepExact = docs
      .selectExpr("doc_id", hex60("text") + " AS h")
      .groupBy("h").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val exactKept = docs.join(keepExact, Seq("doc_id"), "left_semi")
    val nearDrop = Dedup.verifiedPairs(s, dir)
      .select(col("d2").as("doc_id")).distinct()
    val deduped = exactKept.join(nearDrop, Seq("doc_id"), "left_anti")
    val mixed = deduped.filter(expr(
      s"""${hex60("concat('mix_', CAST(doc_id AS STRING))")} <
          CASE lang WHEN 'en' THEN 1152921504606846976
                    WHEN 'zh' THEN 576460752303423488
                    WHEN 'de' THEN 576460752303423488
                    ELSE 288230376151711744 END"""))
    mixed
      .selectExpr("doc_id", "source", "lang", "n_tok",
        """CAST(coalesce(sum(n_tok) OVER (PARTITION BY source
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
            PRECEDING), 0) AS BIGINT) AS tok_before""")
      .selectExpr("doc_id", "source", "lang", "n_tok",
        "CAST(floor(tok_before / 512) AS BIGINT) AS window_id",
        "tok_before % 512 AS win_offset")
      .orderBy("doc_id")
  }

  val pipelineCorpusPrepOracle: String =
    s"""WITH ${graft.operators.Dedup.minhashScoredCte},
       pairs AS (SELECT d1, d2 FROM scored WHERE jaccard >= 0.8),
       q AS (
         SELECT doc_id, source, lang, text,
           len(string_split(text, ' ')) AS n_tok
         FROM documents WHERE len(string_split(text, ' ')) >= 30),
       ke AS (
         SELECT min(doc_id) AS doc_id FROM q
         GROUP BY ${hex60Duck("text")}),
       e AS (SELECT q.* FROM q SEMI JOIN ke USING (doc_id)),
       nd AS (SELECT * FROM e
              WHERE doc_id NOT IN (SELECT d2 FROM pairs)),
       mx AS (SELECT * FROM nd
              WHERE ${hex60Duck("concat('mix_', CAST(doc_id AS VARCHAR))")}
                < CASE lang WHEN 'en' THEN 1152921504606846976
                            WHEN 'zh' THEN 576460752303423488
                            WHEN 'de' THEN 576460752303423488
                            ELSE 288230376151711744 END),
       c AS (
         SELECT doc_id, source, lang, n_tok,
           CAST(coalesce(sum(n_tok) OVER (PARTITION BY source
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
             PRECEDING), 0) AS BIGINT) AS tok_before
         FROM mx)
       SELECT doc_id, source, lang, n_tok,
         CAST(floor(tok_before / 512) AS BIGINT) AS window_id,
         tok_before % 512 AS win_offset
       FROM c ORDER BY doc_id"""

  /** Character-level Shannon entropy over the [a-z ] alphabet — a cheap
    * gibberish/boilerplate signal (low-entropy docs are repeated chars or
    * tiny alphabets; compressed-garbage scores near the 4.75-bit max).
    * Pure per-row projection: counts come from length-difference tricks,
    * the fold is an explicit left-to-right `aggregate` so the double sum
    * is order-pinned for the oracle. */
  val charEntropy: Q = (s, dir) =>
    t(s, dir, "documents").selectExpr(
      "doc_id",
      """CASE WHEN length(text) = 0 THEN CAST(0 AS DOUBLE) ELSE
         round(aggregate(
           transform(
             transform(concat(transform(sequence(97, 122), i -> chr(i)),
                              array(' ')),
               c -> CAST(length(text) - length(replace(text, c, ''))
                    AS DOUBLE) / length(text)),
             p -> CASE WHEN p = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
                  ELSE -p * log2(p) END),
           CAST(0 AS DOUBLE), (acc, x) -> acc + x), 6) END
         AS char_entropy""")
      .orderBy("doc_id")

  val charEntropyOracle: String =
    """SELECT doc_id,
       CASE WHEN length(text) = 0 THEN CAST(0 AS DOUBLE) ELSE
       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         list_transform(
           list_transform(
             list_concat(list_transform(range(97, 123),
               i -> chr(CAST(i AS INT))), [' ']),
             c -> CAST(length(text) - length(replace(text, c, ''))
                  AS DOUBLE) / length(text)),
           p -> CASE WHEN p = 0 THEN CAST(0 AS DOUBLE)
                ELSE -p * log2(p) END)),
         (acc, x) -> acc + x), 6) END AS char_entropy
       FROM documents ORDER BY doc_id"""

  /** Repetition profile (Gopher-style quality filters): duplicate-token
    * and duplicate-bigram fractions plus the most-frequent-token share.
    * All per-row HOF arithmetic — embarrassingly parallel, no shuffle
    * before the output sort. */
  val repetitionStats: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", "toks",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        "CAST(size(array_distinct(toks)) AS BIGINT) AS n_distinct",
        """CASE WHEN size(toks) < 2 THEN array()
           ELSE transform(sequence(1, size(toks) - 1),
             i -> concat(element_at(toks, i), ' ',
                         element_at(toks, i + 1))) END AS bigrams""")
      .selectExpr("doc_id", "n_tokens", "n_distinct",
        "round(CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_tokens, 6)"
          + " AS dup_token_ratio",
        """round(CAST(array_max(transform(array_distinct(toks),
             u -> size(filter(toks, x -> x = u)))) AS DOUBLE) / n_tokens, 6)
           AS top_token_frac""",
        """CASE WHEN size(bigrams) = 0 THEN CAST(0 AS DOUBLE)
           ELSE round(CAST(1 AS DOUBLE)
             - CAST(size(array_distinct(bigrams)) AS DOUBLE) / size(bigrams),
             6) END AS dup_bigram_ratio""")
      .orderBy("doc_id")

  val repetitionStatsOracle: String =
    """WITH tk AS (
         SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       b AS (
         SELECT doc_id, toks,
           len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct,
           CASE WHEN len(toks) < 2 THEN []
           ELSE list_transform(range(1, len(toks)),
             i -> toks[i] || ' ' || toks[i + 1]) END AS bigrams
         FROM tk)
       SELECT doc_id, n_tokens, n_distinct,
         round(CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_tokens, 6)
           AS dup_token_ratio,
         round(CAST(list_max(list_transform(list_distinct(toks),
           u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE) / n_tokens,
           6) AS top_token_frac,
         CASE WHEN len(bigrams) = 0 THEN CAST(0 AS DOUBLE)
         ELSE round(CAST(1 AS DOUBLE)
           - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams), 6)
         END AS dup_bigram_ratio
       FROM b ORDER BY doc_id"""

  /** TF-IDF top-3 terms per document. Shape at scale: one shuffle to
    * (doc, token) term frequencies; the document-frequency table is a
    * vocabulary-sized aggregate broadcast back (never a corpus shuffle);
    * the per-doc top-3 rank is staged by WindowGroupLimit. Scores are
    * rounded BEFORE ranking so the rank itself is cross-engine
    * deterministic (ties broken by token). */
  val tfidfTopK: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val tf = docs
      .selectExpr("doc_id", "explode(split(text, ' ')) AS token")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token"))
    tf.join(broadcast(dfreq), "token").crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + lit(1)).cast("double")
          / (col("df") + lit(1))), 6))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 3)
      .select("doc_id", "rnk", "token", "tf", "df", "score")
      .orderBy("doc_id", "rnk")
  }

  val tfidfTopKOracle: String =
    """WITH tf AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS token
         FROM documents),
       tfc AS (SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY 1, 2),
       dfc AS (SELECT token, count(*) AS df FROM tfc GROUP BY 1),
       n AS (SELECT count(*) AS n_docs FROM documents),
       sc AS (
         SELECT tfc.doc_id, tfc.token, tfc.tf, dfc.df,
           round(tfc.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (dfc.df + 1)),
             6) AS score
         FROM tfc JOIN dfc USING (token) CROSS JOIN n)
       SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id
           ORDER BY score DESC, token) AS rnk,
         token, tf, df, score
       FROM sc
       QUALIFY rnk <= 3
       ORDER BY doc_id, rnk"""

  /** BM25 ranked retrieval (Robertson & Zaragoza, "The Probabilistic
    * Relevance Framework: BM25 and Beyond", FnTIR 2009; k1 = 1.2,
    * b = 0.75): top-5 documents per query over a fixed multi-term query
    * set — the retrieval primitive next to [[tfidfTopK]]'s per-doc
    * keywords, and the lexical side of a RAG/data-curation retrieval
    * stack (the dense side is the ANN family in Similarity.scala).
    *
    * Determinism (the lmPerplexity discipline): tf/df/dl/N are exact
    * integers; each per-term partial score rounds to 6 dp and
    * DECIMAL-sums per (query, doc), so the fold is partition-order
    * independent; ranking orders by the exact decimal sum with doc_id
    * tie-break. The idf is the standard positive-capped
    * ln(1 + (N − df + ½)/(df + ½)).
    *
    * Scale shape (100 TB): the query set broadcasts (it is tiny by
    * definition); joining it into the (doc, term, tf) table FIRST means
    * only postings of query terms survive — the corpus shuffles once to
    * build tf/dl (shared with every other text op), and the scoring
    * join + per-(query, doc) aggregation touch the inverted-index
    * slice, not the corpus. In production tf/dl/df persist as the
    * inverted index (the [[centroidIndex]] pattern) and queries probe
    * it. */
  val bm25TopK: Q = (s, dir) => {
    import s.implicits._
    val queries = Seq(
      (1L, "join"), (1L, "hash"),
      (2L, "vector"), (2L, "stream"),
      (3L, "scan"), (3L, "filter"), (3L, "slow")).toDF("q_id", "term")
    val toks = t(s, dir, "documents")
      .selectExpr("doc_id", "explode(split(text, ' ')) AS term")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum("dl").cast("bigint").as("sum_dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("s").desc, col("doc_id"))
    tf.join(broadcast(queries), "term")
      .join(dl, "doc_id")
      .join(broadcast(dfreq.join(broadcast(queries.select("term").distinct()),
        "term")), "term")
      .crossJoin(broadcast(stats))
      .selectExpr("q_id", "doc_id",
        """CAST(round(
             ln(1 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
             (CAST(tf AS DOUBLE) * 2.2) /
             (CAST(tf AS DOUBLE) + 1.2 *
               (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
                / CAST(sum_dl AS DOUBLE))),
           6) AS DECIMAL(18,6)) AS ps""")
      .groupBy("q_id", "doc_id")
      .agg(sum("ps").as("s"), count(lit(1)).as("n_terms"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 5)
      .selectExpr("q_id", "rank", "doc_id", "n_terms",
        "CAST(s AS DOUBLE) AS bm25")
      .orderBy("q_id", "rank")
  }

  val bm25TopKOracle: String =
    """WITH q(q_id, term) AS (VALUES
         (1, 'join'), (1, 'hash'),
         (2, 'vector'), (2, 'stream'),
         (3, 'scan'), (3, 'filter'), (3, 'slow')),
       toks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term
         FROM documents),
       tfc AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       dlc AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
              FROM dlc),
       dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
       ps AS (
         SELECT q.q_id, tfc.doc_id,
           CAST(round(
             ln(1 + (CAST(st.n_docs AS DOUBLE) - dfc.df + 0.5) / (CAST(dfc.df AS DOUBLE) + 0.5)) *
             (CAST(tfc.tf AS DOUBLE) * 2.2) /
             (CAST(tfc.tf AS DOUBLE) + 1.2 *
               (0.25 + 0.75 * CAST(dlc.dl AS DOUBLE) * CAST(st.n_docs AS DOUBLE)
                / CAST(st.sum_dl AS DOUBLE))),
           6) AS DECIMAL(18,6)) AS ps
         FROM tfc JOIN q USING (term)
         JOIN dlc USING (doc_id)
         JOIN dfc USING (term)
         CROSS JOIN st),
       agg AS (
         SELECT q_id, doc_id, sum(ps) AS s, count(*) AS n_terms
         FROM ps GROUP BY 1, 2),
       rk AS (
         SELECT CAST(q_id AS BIGINT) AS q_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY s DESC, doc_id) AS rank,
           doc_id, n_terms, CAST(s AS DOUBLE) AS bm25
         FROM agg)
       SELECT q_id, rank, doc_id, n_terms, bm25 FROM rk
       WHERE rank <= 5 ORDER BY q_id, rank"""

  /** Integer-exact per-source quality gate: keep the top 10% of documents
    * per source by length (rank*10 <= partition count — no float
    * percentile on the cut line, so the kept set is bit-deterministic).
    * The shape of every "best decile per domain" corpus filter. */
  /** Token-budget curation: per source, admit documents in quality order
    * (longest-first here — any deterministic score works, ties on
    * doc_id) until a fixed token budget fills; emit each kept doc with
    * its cumulative token count. This is mixture construction under
    * per-domain token budgets (the knob real pretraining mixes are
    * specified in), complementing `corpus_mix_weighted` (rate-based) and
    * `quality_top_percent` (count-based). One window cumsum per source —
    * sources are the parallel unit; for a pathologically large single
    * source, the admitted set is a sorted prefix, so pre-filter with an
    * approximate score threshold (quantile sketch) and rank only the
    * survivors. */
  val corpusBudgetCap: Q = (s, dir) => {
    val budget = 800L
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id"))
    t(s, dir, "documents")
      .selectExpr("source", "doc_id", "n_chars",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tok")
      .withColumn("cum_tok",
        sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum_tok") <= budget)
      .select("source", "doc_id", "n_tok", "cum_tok")
      .orderBy("source", "cum_tok")
  }

  val corpusBudgetCapOracle: String =
    """WITH ranked AS (
         SELECT source, doc_id,
           len(string_split(text, ' ')) AS n_tok,
           CAST(sum(len(string_split(text, ' '))) OVER (
             PARTITION BY source ORDER BY n_chars DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_tok
         FROM documents)
       SELECT source, doc_id, n_tok, cum_tok
       FROM ranked WHERE cum_tok <= 800
       ORDER BY source, cum_tok"""

  val qualityTopPercent: Q = (s, dir) => {
    val wRank = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id"))
    val wAll = Window.partitionBy("source")
    t(s, dir, "documents")
      .withColumn("rnk", row_number().over(wRank).cast("bigint"))
      .withColumn("n_src", count(lit(1)).over(wAll))
      .filter(col("rnk") * 10 <= col("n_src"))
      .select("source", "rnk", "doc_id", "n_chars")
      .orderBy("source", "rnk")
  }

  val qualityTopPercentOracle: String =
    """SELECT source,
       row_number() OVER (PARTITION BY source
         ORDER BY n_chars DESC, doc_id) AS rnk,
       doc_id, n_chars
       FROM documents
       QUALIFY rnk * 10 <= count(*) OVER (PARTITION BY source)
       ORDER BY source, rnk"""

  /** Overlapping document chunking (RAG/window prep): 200-char chunks on
    * a 150-char stride (50-char overlap), one output row per chunk.
    * Pure per-row generate — the explode carries (doc_id, chunk) only,
    * so the shuffle-free pre-embedding chunk table scales linearly. */
  val docChunkOverlap: Q = (s, dir) =>
    t(s, dir, "documents")
      .filter("length(text) > 0")
      .selectExpr("doc_id",
        "explode(sequence(CAST(0 AS BIGINT)," +
          " CAST((length(text) - 1) div 150 AS BIGINT))) AS chunk_id",
        "text")
      .selectExpr("doc_id", "chunk_id",
        "substring(text, CAST(chunk_id * 150 + 1 AS INT), 200) AS chunk",
        "CAST(length(substring(text, CAST(chunk_id * 150 + 1 AS INT), 200))" +
          " AS BIGINT) AS chunk_len")
      .orderBy("doc_id", "chunk_id")

  val docChunkOverlapOracle: String =
    """SELECT doc_id, i AS chunk_id,
       substring(text, CAST(i * 150 + 1 AS INT), 200) AS chunk,
       length(substring(text, CAST(i * 150 + 1 AS INT), 200)) AS chunk_len
       FROM documents,
       LATERAL (SELECT unnest(range(0, (length(text) - 1) // 150 + 1))
                AS i) t
       WHERE length(text) > 0
       ORDER BY doc_id, chunk_id"""

  /** Deterministic train/val/test assignment: the split is a pure
    * function of doc_id (md5 bucket mod 100 → 80/10/10), so it is
    * reproducible across cluster sizes, runs, and engines — no sampling
    * state, no coordination; the canonical leak-proof ML split. */
  /** Deterministic global training-order shuffle: each epoch consumes the
    * corpus in a pseudorandom order that must be reproducible across
    * reruns and independent of input partitioning. Sort key = seeded
    * 60-bit md5 hash of doc_id (change the epoch tag → new permutation).
    *
    * The explicit position `ord` is computed the scalable way: bucket on
    * the key's top 3 bits (md5 is uniform, so buckets are balanced and
    * monotone in the key — at cluster scale use the top log₂(shards)
    * bits), rank WITHIN each bucket (parallel window), then add
    * per-bucket offsets from a tiny count table that is broadcast —
    * never a single-partition global window, which would funnel 100 TB
    * through one task. The bucket id is computed from the data, not from
    * `spark_partition_id`, so both plan branches see identical buckets
    * with no exchange-reuse assumption. */
  val corpusShuffle: Q = (s, dir) => {
    val keyed = t(s, dir, "documents")
      .selectExpr("doc_id", "source",
        hex60("concat('epoch7_', CAST(doc_id AS STRING))") +
          " AS shuffle_key")
      .withColumn("pid", expr("shiftright(shuffle_key, 57)"))
    val offsets = keyed.groupBy("pid").count()
      .withColumn("offset",
        coalesce(sum("count").over(
          Window.orderBy("pid").rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    val wIn = Window.partitionBy("pid")
      .orderBy(col("shuffle_key"), col("doc_id"))
    keyed
      .withColumn("rn", row_number().over(wIn))
      .join(broadcast(offsets), "pid")
      .selectExpr("doc_id", "source", "shuffle_key",
        "CAST(rn AS BIGINT) + offset - 1 AS ord")
      .orderBy("ord")
  }

  val corpusShuffleOracle: String =
    s"""SELECT doc_id, source, shuffle_key,
         row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS ord
       FROM (SELECT doc_id, source,
               ${hex60Duck("concat('epoch7_', CAST(doc_id AS VARCHAR))")}
                 AS shuffle_key
             FROM documents)
       ORDER BY ord"""

  /** SEQUENCE PACKING — the concat-then-chunk step every causal-LM
    * pretraining pipeline runs between curation and batching: the
    * corpus is laid out as ONE deterministic token stream (doc_id
    * order) and cut into fixed-budget training bins (B = 2048 tokens);
    * each document reports its global start offset and the first/last
    * bin it lands in (`bin_first != bin_last` ⇔ the doc spans a chunk
    * boundary — the rows a loss-masking loader treats specially).
    * The global prefix sum uses the same two-level shape as
    * [[corpusShuffle]] — per-range-bucket window cumsum + a broadcast
    * exclusive-offset table — so NO single-partition window over the
    * corpus exists (512-doc buckets; a production job sizes the bucket
    * width from the id range the same way). */
  val corpusPackSequences: Q = (s, dir) => {
    val B = 2048L
    val toks = t(s, dir, "documents")
      .selectExpr("doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens")
      .withColumn("pid", expr("shiftright(doc_id, 9)"))
    val offsets = toks.groupBy("pid")
      .agg(sum("n_tokens").as("bucket_tokens"))
      .withColumn("offset",
        coalesce(sum("bucket_tokens").over(
          Window.orderBy("pid").rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "offset")
    val wIn = Window.partitionBy("pid").orderBy("doc_id")
    toks
      .withColumn("cum", sum("n_tokens").over(wIn))
      .join(broadcast(offsets), "pid")
      .selectExpr("doc_id", "n_tokens",
        "offset + cum - n_tokens AS start_offset")
      .selectExpr("doc_id", "n_tokens", "start_offset",
        s"start_offset div $B AS bin_first",
        s"(start_offset + n_tokens - 1) div $B AS bin_last")
      .orderBy("doc_id")
  }

  val corpusPackSequencesOracle: String =
    """WITH t AS (
         SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         FROM documents),
       c AS (
         SELECT doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens
             AS BIGINT) AS start_offset
         FROM t)
       SELECT doc_id, n_tokens, start_offset,
         start_offset // 2048 AS bin_first,
         (start_offset + n_tokens - 1) // 2048 AS bin_last
       FROM c ORDER BY doc_id"""

  /** PII SCRUBBING — the redaction stage every pre-training curation
    * pipeline runs before anything leaves the raw zone: emails and
    * phone-shaped strings are counted and replaced with typed
    * placeholders in one projection (codegen'd regexp_* — no UDF).
    * The harness corpus is synthetic prose, so each document gets a
    * DETERMINISTIC injected email + phone (doc-derived) on top of
    * whatever the text already matches — the redactor must find and
    * scrub BOTH, and the oracle recomputes counts and the digest of
    * the scrubbed text with the same patterns (DuckDB regexp_replace
    * needs the 'g' flag to match Spark's replace-all semantics). */
  val piiRedact: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("doc_id",
        """concat(text, ' contact user', CAST(doc_id AS STRING),
           '@example.com or 555-',
           lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) AS aug""")
      .selectExpr("doc_id",
        "CAST(size(regexp_extract_all(aug, " +
          "'[a-z0-9._]+@[a-z0-9.]+\\\\.[a-z]+', 0)) AS BIGINT) AS n_emails",
        "CAST(size(regexp_extract_all(aug, " +
          "'[0-9]{3}-[0-9]{4}', 0)) AS BIGINT) AS n_phones",
        "md5(regexp_replace(regexp_replace(aug, " +
          "'[a-z0-9._]+@[a-z0-9.]+\\\\.[a-z]+', '<EMAIL>'), " +
          "'[0-9]{3}-[0-9]{4}', '<PHONE>')) AS clean_digest")
      .orderBy("doc_id")

  val piiRedactOracle: String =
    """WITH a AS (
         SELECT doc_id,
           concat(text, ' contact user', CAST(doc_id AS VARCHAR),
             '@example.com or 555-',
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS aug
         FROM documents)
       SELECT doc_id,
         CAST(len(regexp_extract_all(aug,
           '[a-z0-9._]+@[a-z0-9.]+\.[a-z]+')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(aug,
           '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
         md5(regexp_replace(regexp_replace(aug,
           '[a-z0-9._]+@[a-z0-9.]+\.[a-z]+', '<EMAIL>', 'g'),
           '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS clean_digest
       FROM a ORDER BY doc_id"""

  val corpusSplitAssign: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("doc_id", "source",
        hex60("concat('split_', CAST(doc_id AS STRING))") + " % 100" +
          " AS bucket")
      .selectExpr("doc_id", "source", "bucket",
        """CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split""")
      .orderBy("doc_id")

  val corpusSplitAssignOracle: String =
    s"""WITH b AS (
         SELECT doc_id, source,
           ${hex60Duck("concat('split_', CAST(doc_id AS VARCHAR))")} % 100
             AS bucket
         FROM documents)
       SELECT doc_id, source, bucket,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val'
              ELSE 'test' END AS split
       FROM b ORDER BY doc_id"""

  /** Leakage-safe (group-aware) train/val/test split: documents that are
    * duplicates after normalization (the [[dedupNormalized]] equivalence)
    * are assigned as a GROUP — the split hash is taken over the group's
    * representative (min doc_id), not the document — so no two copies of
    * the same content can straddle train and test (the eval-leakage
    * failure mode that per-doc hashing like [[corpusSplitAssign]] cannot
    * rule out). The same shape generalizes to any leakage key: URL host,
    * near-dup cluster id, conversation thread.
    *
    * Scale: one shuffle on the 60-bit normalized-content hash (the window
    * min); the split itself stays a pure per-row function of the
    * representative — no sampling state, reproducible on any cluster. */
  val corpusSplitGrouped: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("doc_id",
        hex60("regexp_replace(regexp_replace(lower(text), '[0-9]', '0'), ' +', ' ')")
          + " AS norm_hash")
      .withColumn("group_rep",
        min("doc_id").over(Window.partitionBy("norm_hash")))
      .selectExpr("doc_id", "group_rep",
        hex60("concat('gsplit_', CAST(group_rep AS STRING))") + " % 100" +
          " AS bucket")
      .selectExpr("doc_id", "group_rep", "bucket",
        """CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split""")
      .orderBy("doc_id")

  val corpusSplitGroupedOracle: String =
    s"""WITH g AS (
         SELECT doc_id,
           min(doc_id) OVER (PARTITION BY
             ${hex60Duck("regexp_replace(regexp_replace(lower(text), '[0-9]', '0', 'g'), ' +', ' ', 'g')")})
             AS group_rep
         FROM documents),
       b AS (
         SELECT doc_id, group_rep,
           ${hex60Duck("concat('gsplit_', CAST(group_rep AS VARCHAR))")} % 100
             AS bucket
         FROM g)
       SELECT doc_id, group_rep, bucket,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val'
              ELSE 'test' END AS split
       FROM b ORDER BY doc_id"""

  /** Temperature-scaled mixture shares (the multilingual-LM sampling
    * table: sample language l with probability ∝ mass_l^α, α = 0.7 —
    * the mT5/XLM-R recipe that upsamples low-resource languages
    * without letting them dominate): per language, the raw token
    * share and the α-tempered share, both in exact integer ppm, plus
    * the resulting up/down-sampling factor. The ONE libm call per
    * group (`pow`) is milli-scaled and rounded to a BIGINT
    * immediately (the repo's libm discipline), so every downstream
    * division is pure integer arithmetic — bit-identical
    * cross-engine. The weight scale is 1e3 (not 1e6) deliberately:
    * `temp_ppm` multiplies wi by 1e6 again, and wi must stay under
    * BIGINT/1e6 ≈ 9.2e12 — at 1e3 scaling that bound is
    * tokens^0.7 ≤ 9.2e9, i.e. ~1.6e14 tokens PER LANGUAGE (beyond a
    * 100 TB corpus), where 1e6 scaling would overflow (silently in
    * Spark, loudly in DuckDB) at ~8e9 tokens. Only ratios of wi
    * matter, so ppm precision is preserved.
    * Complements `corpus_mix_weighted` (fixed rates) and
    * `corpus_budget_cap` (hard budgets): this op COMPUTES the rate
    * table those consume. Scale: one fixed-fanout aggregate over the
    * corpus + a |langs|-row cross of its own totals. */
  val corpusMixTemperature: Q = (s, dir) => {
    val base = t(s, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("CAST(size(split(text, ' ')) AS BIGINT)"))
          .cast("bigint").as("n_tokens"))
      .selectExpr("lang", "n_docs", "n_tokens",
        """CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.7) * 1000)
           AS BIGINT) AS wi""")
    val totals = base.agg(sum("wi").cast("bigint").as("tw"),
      sum("n_tokens").cast("bigint").as("tt"))
    base.crossJoin(broadcast(totals))
      .selectExpr("lang", "n_docs", "n_tokens",
        "(n_tokens * 1000000) DIV tt AS raw_ppm",
        "(wi * 1000000) DIV tw AS temp_ppm",
        """((wi * 1000000 DIV tw) * 1000)
           DIV greatest((n_tokens * 1000000) DIV tt, 1)
           AS boost_x1000""")
      .orderBy("lang")
  }

  val corpusMixTemperatureOracle: String =
    """WITH s AS (
         SELECT lang, count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)
             AS n_tokens
         FROM documents GROUP BY 1),
       w AS (
         SELECT lang, n_docs, n_tokens,
           CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.7) * 1000)
             AS BIGINT) AS wi
         FROM s),
       t AS (SELECT CAST(sum(wi) AS BIGINT) AS tw,
               CAST(sum(n_tokens) AS BIGINT) AS tt FROM w)
       SELECT lang, n_docs, n_tokens,
         (n_tokens * 1000000) // tt AS raw_ppm,
         (wi * 1000000) // tw AS temp_ppm,
         ((wi * 1000000 // tw) * 1000)
           // greatest((n_tokens * 1000000) // tt, 1) AS boost_x1000
       FROM w, t ORDER BY lang"""

  /** Length-bucketed batching report: documents binned by their padded
    * sequence length (pad-to-multiple-of-32 tokens — the bucketing that
    * keeps attention batches rectangular without one global max_len), with
    * the exact padding waste per bucket in integer ppm. This is the
    * planning report behind length-grouped batch samplers: waste_ppm
    * quantifies what fraction of compute a bucket burns on pad tokens.
    * All arithmetic is integer (DIV / //), so the report is bit-identical
    * cross-engine. Scale: one narrow projection + a fixed-fanout
    * aggregate (≤ max_len/32 groups) — no shuffle beyond the partial/
    * final agg, at any corpus size. */
  val corpusLengthBuckets: Q = (s, dir) =>
    t(s, dir, "documents")
      .selectExpr("CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens")
      .selectExpr("n_tokens",
        "((greatest(n_tokens, 1) + 31) DIV 32) * 32 AS bucket_cap")
      .groupBy("bucket_cap")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("bigint").as("sum_tokens"))
      .selectExpr("bucket_cap", "n_docs", "sum_tokens",
        "bucket_cap * n_docs AS padded_tokens",
        """((bucket_cap * n_docs - sum_tokens) * 1000000)
           DIV (bucket_cap * n_docs) AS waste_ppm""")
      .orderBy("bucket_cap")

  val corpusLengthBucketsOracle: String =
    """WITH n AS (
         SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         FROM documents),
       b AS (
         SELECT n_tokens,
           ((greatest(n_tokens, 1) + 31) // 32) * 32 AS bucket_cap
         FROM n),
       agg AS (
         SELECT bucket_cap, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM b GROUP BY 1)
       SELECT bucket_cap, n_docs, sum_tokens,
         bucket_cap * n_docs AS padded_tokens,
         ((bucket_cap * n_docs - sum_tokens) * 1000000)
           // (bucket_cap * n_docs) AS waste_ppm
       FROM agg ORDER BY bucket_cap"""

  /** Boilerplate (frequent-line) removal — the MassiveText repetition
    * filter family (Rae et al., "Scaling Language Models: … Gopher",
    * 2021, §A.1.1; RefinedWeb's line-wise corrections, Penedo et al.
    * 2023 §3.2): any "line" occurring in ≥ 3 DISTINCT documents is
    * boilerplate (nav chrome, licence banners, cookie notices) and is
    * removed from EVERY document it appears in — unlike
    * [[graft.operators.Dedup.lineLevel]] (C4), which keeps the first
    * occurrence. The harness corpus has no newlines, so a "line" is the
    * same fixed 16-token chunk line-level dedup uses.
    *
    * Scale shape (100 TB): chunking is a per-row HOF (one output row
    * per chunk, not per token); chunk document-frequency is one shuffle
    * on the chunk key — uniform, AQE-skew safe; the ≥ 3-doc survivor
    * set is tiny by Zipf's law, so it broadcasts back and flagging is
    * map-side; reassembly is the same per-doc group-by as line-level
    * dedup. At cluster scale the chunk key becomes a 128-bit digest
    * (same trick as dedup_exact), kept as raw text here so the oracle
    * stays readable. */
  val boilerplateLines: Q = (s, dir) => {
    val chunks = t(s, dir, "documents")
      .selectExpr("doc_id",
        """posexplode(transform(
             sequence(0, CAST((size(split(text, ' ')) - 1) div 16 AS INT)),
             c -> concat_ws(' ', slice(split(text, ' '), c * 16 + 1, 16))))
           AS (chunk_id, chunk)""")
    val frequent = chunks.groupBy("chunk")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 3)
      .select(col("chunk"), lit(1).as("bp"))
    chunks.join(broadcast(frequent), Seq("chunk"), "left_outer")
      .withColumn("keep", when(col("bp").isNull, 1).otherwise(0))
      .groupBy("doc_id")
      .agg(
        expr("""array_join(transform(
                  filter(array_sort(collect_list(struct(chunk_id, keep, chunk))),
                         x -> x.keep = 1),
                  x -> x.chunk), ' ')""").as("clean_text"),
        sum("keep").cast("bigint").as("n_kept"),
        (count(lit(1)) - sum("keep")).cast("bigint").as("n_removed"))
      .orderBy("doc_id")
  }

  val boilerplateLinesOracle: String =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       chunks AS (
         SELECT doc_id, c AS chunk_id,
           array_to_string(tk[c*16+1 : c*16+16], ' ') AS chunk
         FROM toks,
           LATERAL (SELECT unnest(range(0, (len(tk)-1)//16 + 1)) AS c) u),
       freq AS (
         SELECT chunk FROM chunks GROUP BY chunk
         HAVING count(DISTINCT doc_id) >= 3),
       flagged AS (
         SELECT doc_id, chunk_id, chunk,
           CASE WHEN chunk IN (SELECT chunk FROM freq) THEN 0 ELSE 1 END
             AS keep
         FROM chunks)
       SELECT doc_id,
         coalesce(string_agg(CASE WHEN keep = 1 THEN chunk END, ' '
           ORDER BY chunk_id), '') AS clean_text,
         CAST(sum(keep) AS BIGINT) AS n_kept,
         CAST(count(*) - sum(keep) AS BIGINT) AS n_removed
       FROM flagged GROUP BY doc_id ORDER BY doc_id"""

  val ops: Seq[Op] = Seq(
    Op("text_boilerplate_lines", boilerplateLines, boilerplateLinesOracle),
    Op("doc_chunk_overlap", docChunkOverlap, docChunkOverlapOracle),
    Op("corpus_split_assign", corpusSplitAssign, corpusSplitAssignOracle),
    Op("corpus_split_grouped", corpusSplitGrouped, corpusSplitGroupedOracle),
    Op("corpus_length_buckets", corpusLengthBuckets, corpusLengthBucketsOracle),
    Op("corpus_mix_temperature", corpusMixTemperature,
      corpusMixTemperatureOracle),
    Op("corpus_global_shuffle", corpusShuffle, corpusShuffleOracle),
    Op("corpus_budget_cap", corpusBudgetCap, corpusBudgetCapOracle),
    Op("text_char_entropy", charEntropy, charEntropyOracle),
    Op("text_repetition", repetitionStats, repetitionStatsOracle),
    Op("text_tfidf_topk", tfidfTopK, tfidfTopKOracle),
    Op("text_bm25_topk", bm25TopK, bm25TopKOracle),
    Op("quality_top_percent", qualityTopPercent, qualityTopPercentOracle),
    Op("pipeline_corpus_prep", pipelineCorpusPrep, pipelineCorpusPrepOracle),
    Op("pack_sequences", packSequences, packSequencesOracle),
    Op("decontam_overlap", decontamOverlap, decontamOverlapOracle),
    Op("decontam_bloom", decontamBloom, decontamBloomOracle),
    Op("corpus_mix_weighted", mixWeighted, mixWeightedOracle),
    Op("text_cm_frequency", cmFrequency, cmFrequencyOracle),
    Op("text_frequent_tokens", frequentTokens, frequentTokensOracle),
    Op("text_heavy_hitters", heavyHittersPerLang, heavyHittersPerLangOracle),
    Op("text_trigram_counts", trigramCounts, trigramCountsOracle),
    Op("text_bpe_merge_step", bpeMergeStep, bpeMergeStepOracle),
    Op("text_bpe_train_k", bpeTrainK, bpeTrainKOracle),
    Op("text_bpe_encode_docs", bpeEncodeDocs, bpeEncodeDocsOracle),
    Op("text_unigram_train", unigramTrain, unigramTrainOracle),
    Op("text_unigram_encode_docs", unigramEncodeDocs, unigramEncodeDocsOracle),
    Op("text_bigram_pmi", bigramPmi, bigramPmiOracle),
    Op("text_rank_keywords", textRankKeywords, textRankKeywordsOracle),
    Op("text_lm_perplexity", lmPerplexity, lmPerplexityOracle),
    Op("corpus_sample_bottomk", sampleBottomK, sampleBottomKOracle),
    Op("corpus_sample_stratified", sampleStratified, sampleStratifiedOracle),
    Op("corpus_sample_weighted", sampleWeighted, sampleWeightedOracle),
    Op("dedup_normalized", dedupNormalized, dedupNormalizedOracle),
    Op("text_scrub", textScrub, textScrubOracle),
    Op("doc_length_histogram", docLengthHistogram, docLengthHistogramOracle),
    Op("text_token_count", tokenCount, tokenCountOracle),
    Op("corpus_pack_sequences", corpusPackSequences, corpusPackSequencesOracle),
    Op("text_pii_redact", piiRedact, piiRedactOracle),
    Op("text_quality_score", qualityScore, qualityScoreOracle),
    Op("text_quality_classifier", qualityClassifier, qualityClassifierOracle),
    Op("text_lang_id", langId, langIdOracle),
    Op("text_fingerprint", fingerprint, fingerprintOracle))
}
