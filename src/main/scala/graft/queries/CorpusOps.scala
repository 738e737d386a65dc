package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryUtil._

/** Corpus-index and statistical-quality operators over the `documents`
  * table: inverted-index construction, TF-IDF salient terms, token
  * entropy, and cross-document duplicated-n-gram span coverage (the
  * substring-level dedup primitive of Lee et al. 2021, "Deduplicating
  * Training Data Makes Language Models Better" — here via hashed
  * token-8-gram windows instead of a suffix array, the standard
  * distributed approximation).
  *
  * Scale shapes (100 TB design point):
  *  - the only shuffles carry (term, doc_id) / (hash, doc_id, pos)
  *    pairs — never document text;
  *  - every aggregation is algebraic (map-side partial) except the
  *    posting-list collect, which is df-bounded and head-capped;
  *  - q70's duplicate-window set is joined back on the hash key (at
  *    production scale a bloom-filter pre-pass drops the ~99% of
  *    windows that are unique before the shuffle).
  */
object CorpusOps {

  type Q = (String, (SparkSession, String) => DataFrame, Option[String])

  /** (doc_id, lang, term) token occurrences — the explode stays in the
    * same narrow stage as the scan; only the group-bys shuffle.
    */
  private def occurrences(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "documents")
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("term"))

  // ---- Duplicated-span coverage stages (q70, and q85 = q70 with a
  // bloom pre-filter on the windows before the coverage join).

  private def tokenFrame(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")))

  /** (doc_id, pos, h): the md5 of every 8-token window. The windows feed
    * BOTH the dup-set aggregation and the coverage join: materialize
    * them once or the md5-per-window explode (the query's dominant
    * cost) executes twice in one plan.
    */
  private def windowHashes(t: DataFrame): DataFrame =
    t.where(col("n_toks") >= 8)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n_toks") - 8),
          i => md5(concat_ws(" ",
            (1 to 8).map(k => element_at(col("toks"), i + k)): _*)))))
      .toDF("doc_id", "pos", "h")
      .localCheckpoint()

  private def dupHashes(windows: DataFrame): DataFrame =
    windows.groupBy("h")
      .agg(countDistinct("doc_id").as("nd")).where(col("nd") > 1).select("h")

  /** Per document: the token positions covered by a window in `dups`,
    * their fraction of the document, and the keep verdict (≤ 0.5).
    */
  private def coverage(t: DataFrame, windows: DataFrame, dups: DataFrame): DataFrame = {
    val covered = windows.join(dups, "h")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + 7)).as("cp"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("covered"))
    t.join(covered, Seq("doc_id"), "left")
      .withColumn("covered", coalesce(col("covered"), lit(0L)))
      .select(col("doc_id"), col("n_toks"), col("covered"),
        round(col("covered").cast("double") / col("n_toks").cast("double"), 6)
          .as("dup_frac"))
      .withColumn("keep",
        col("covered").cast("double") / col("n_toks").cast("double") <= 0.5)
      .orderBy("doc_id")
  }

  /** q70's and q85's oracle: the two queries return the same rows. */
  private val dupSpanSql =
    """WITH t AS (
         SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
         FROM documents),
       base AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_toks, toks FROM t),
       w AS (SELECT doc_id,
               [md5(array_to_string(toks[i+1:i+8], ' '))
                  FOR i IN range(0, len(toks) - 7)] AS hs
             FROM base WHERE n_toks >= 8),
       e AS (SELECT doc_id,
               unnest(hs) AS h,
               unnest(range(0, len(hs))) AS pos
             FROM w),
       dups AS (SELECT h FROM e GROUP BY h HAVING count(DISTINCT doc_id) > 1),
       cp AS (SELECT doc_id, unnest(range(pos, pos + 8)) AS cp
              FROM e JOIN dups USING (h)),
       cov AS (SELECT doc_id, count(*) AS covered
               FROM (SELECT DISTINCT doc_id, cp FROM cp) GROUP BY 1)
       SELECT b.doc_id, b.n_toks,
              CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered,
              round(CAST(coalesce(cov.covered, 0) AS DOUBLE) / b.n_toks, 6) AS dup_frac,
              (CAST(coalesce(cov.covered, 0) AS DOUBLE) / b.n_toks <= 0.5) AS keep
       FROM base b LEFT JOIN cov ON b.doc_id = cov.doc_id
       ORDER BY b.doc_id"""

  // ---- Word-bigram LM stages (q72 scores against the full model by
  // shuffle joins; q86 against a pruned model broadcast to the scan).

  /** A corpus-trained bigram model: the bigram occurrences it is counted
    * from, its unigram counts `c1` and its vocabulary size.
    */
  private final case class BigramModel(bi: DataFrame, c1: DataFrame, vocab: Long) {
    /** (w1, w2, c2) bigram counts. */
    def c2: DataFrame = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
  }

  private def bigramModel(s: SparkSession, d: String): BigramModel = {
    val t = tbl(s, d, "documents").select(col("doc_id"), tokens(col("text")).as("toks"))
    // bigram occurrences feed the two model aggregates AND the
    // scoring join: materialize once so the explode runs once.
    val bi = t.where(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("w1"),
                      element_at(col("toks"), i + 2).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .localCheckpoint()
    val vocab = t.select(explode(col("toks")).as("w"))
      .agg(countDistinct("w")).head.getLong(0)
    BigramModel(bi, bi.groupBy("w1").agg(count(lit(1)).as("c1")), vocab)
  }

  /** Per-document cross-entropy −avg ln P(w2 | w1), P = (c2+1)/(c1+V),
    * over bigrams already joined to their model counts; `c2` is the
    * bigram count the scoring join produced.
    */
  private def crossEntropy(scored: DataFrame, c2: Column, vocab: Long, name: String): DataFrame =
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log((c2 + lit(1)).cast("double") /
                (col("c1") + lit(vocab)).cast("double"))).as("ll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("ll") / col("n_bigrams").cast("double"), 6).as(name))
      .orderBy("doc_id")

  /** The model CTEs (t, bi, c1, v) of q72's and q86's oracles. */
  private val bigramModelSql =
    """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
         FROM documents),
       bi AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
              FROM t, unnest(range(1, len(toks))) AS u(i)
              WHERE len(toks) >= 2),
       c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
       v AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v
             FROM (SELECT unnest(toks) AS term FROM t)),"""

  val defs: Seq[Q] = Seq(

    // ---- Inverted-index construction: term → document frequency, total
    // term frequency, and the head of the sorted posting list. One
    // shuffle on the term key; collect_set is bounded by df and the
    // emitted list is head-capped (a real index writes positional
    // delta-encoded segments — the segment CONTENT is what this pins).
    ("q67_inverted_index",
      (s, d) => occurrences(s, d)
        .groupBy("term")
        .agg(countDistinct("doc_id").as("df"),
             count(lit(1)).as("tf"),
             min("doc_id").as("first_doc"),
             // joined to a string, not an array: the driver's checker
             // row-sorts through pandas, which cannot hash array cells
             // (round-3 q67 red was exactly that crash, not a mismatch).
             array_join(
               transform(slice(array_sort(collect_set(col("doc_id"))), 1, 5),
                 _.cast("string")), ",").as("postings_head"))
        .orderBy("term"),
      Some("""WITH ex AS (
               SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
               FROM documents)
             SELECT term,
                    CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
                    CAST(count(*) AS BIGINT) AS tf,
                    CAST(min(doc_id) AS BIGINT) AS first_doc,
                    array_to_string(
                      list_transform((list_sort(list_distinct(list(doc_id))))[1:5],
                        x -> CAST(x AS VARCHAR)), ',') AS postings_head
             FROM ex GROUP BY term ORDER BY term""")),

    // ---- TF-IDF salient terms per language: tf over the language
    // slice × ln(N/df) over the whole corpus, top 3 per language.
    // Two partial-agg shuffles (term df, (lang,term) tf) + a window
    // over the tiny scored set. Ties break on the term so the ranking
    // is deterministic; scores round to 4dp (exact-tie scores are the
    // same float on both engines — same ints through the same ops).
    ("q68_tfidf_terms",
      (s, d) => {
        // One explode + one shuffle into compact (term, lang, doc)
        // counts; df and tf both derive from that aggregate, so the
        // expensive exchange is computed once and reused (each doc has
        // exactly one lang, so (term, doc) is unique in `c` and df is a
        // plain count).
        val c = occurrences(s, d)
          .groupBy("term", "lang", "doc_id").agg(count(lit(1)).as("c"))
        val nDocs = tbl(s, d, "documents").count()
        // The no-op filter keeps the `c` column alive in the df branch:
        // without it column pruning drops the count from that side's
        // partial aggregate, the two subtrees stop being identical, and
        // Spark re-executes the explode instead of reusing the exchange
        // (asserted in CorpusOpsSpec).
        val df = c.where(col("c") >= 1).groupBy("term").agg(count(lit(1)).as("df"))
        val tf = c.groupBy("lang", "term").agg(sum("c").as("tf"))
        val sc = tf.join(df, "term")
          .withColumn("score",
            col("tf").cast("double") * log(lit(nDocs.toDouble) / col("df").cast("double")))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("lang").orderBy(col("score").desc, col("term"))
        sc.withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select(col("lang"), col("rank"), col("term"), round(col("score"), 4).as("score"))
          .orderBy("lang", "rank")
      },
      Some("""WITH ex AS (
               SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '\S+')) AS term
               FROM documents),
             n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
             df AS (SELECT term, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1),
             tf AS (SELECT lang, term, count(*) AS tf FROM ex GROUP BY 1, 2),
             sc AS (SELECT lang, term,
                      CAST(tf AS DOUBLE) * ln(nd / CAST(df AS DOUBLE)) AS score
                    FROM tf JOIN df USING (term) CROSS JOIN n),
             r AS (SELECT lang, term, score,
                     row_number() OVER (PARTITION BY lang ORDER BY score DESC, term) AS rank
                   FROM sc)
             SELECT lang, CAST(rank AS INT) AS rank, term, round(score, 4) AS score
             FROM r WHERE rank <= 3 ORDER BY lang, rank""")),

    // ---- Token-entropy quality signal: Shannon entropy of each
    // document's unigram distribution, H = ln(N) - (Σ c·ln c)/N — the
    // single-division form keeps the float work to one accumulation
    // (rounded 6dp) and one division. Low entropy = repetitive/
    // boilerplate text; a standard curation filter next to q27/q56/q61.
    // Map-side-combinable: (doc,term) counts then a per-doc roll-up.
    ("q69_token_entropy",
      (s, d) => {
        val c = occurrences(s, d).groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        c.groupBy("doc_id")
          .agg(sum("c").as("n_toks"),
               count(lit(1)).as("n_uniq"),
               sum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
          .select(col("doc_id"), col("n_toks"), col("n_uniq"),
            round(log(col("n_toks").cast("double")) - col("clogc") / col("n_toks").cast("double"), 6)
              .as("entropy"))
          .withColumn("low_entropy", col("entropy") < 2.0)
          .orderBy("doc_id")
      },
      Some("""WITH ex AS (
               SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
               FROM documents),
             c AS (SELECT doc_id, term, count(*) AS c FROM ex GROUP BY 1, 2),
             t AS (SELECT doc_id, sum(c) AS n_toks, count(*) AS n_uniq,
                          sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc
                   FROM c GROUP BY 1)
             SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
                    CAST(n_uniq AS BIGINT) AS n_uniq,
                    round(ln(CAST(n_toks AS DOUBLE)) - clogc / CAST(n_toks AS DOUBLE), 6) AS entropy,
                    (round(ln(CAST(n_toks AS DOUBLE)) - clogc / CAST(n_toks AS DOUBLE), 6) < 2.0) AS low_entropy
             FROM t ORDER BY doc_id""")),

    // ---- Cross-document duplicated-span coverage (substring-level
    // dedup, Lee et al. 2021 §4 as a distributed window-hash pass):
    // hash every 8-token window, find windows occurring in >1 document,
    // mark the token positions they cover, and score each document by
    // its duplicated-token fraction. q22/q24 are document-level and q62
    // is paragraph-level; this is the finer-grained primitive that
    // catches partial copies crossing paragraph boundaries. The
    // shuffles carry only (hash128, doc_id, pos) triples and the final
    // per-doc roll-up; text never moves.
    ("q70_dup_span_coverage",
      (s, d) => {
        val t = tokenFrame(s, d)
        val windows = windowHashes(t)
        coverage(t, windows, dupHashes(windows))
      },
      Some(dupSpanSql)),

    // ---- Statistical-LM fluency scoring (the CCNet/Wenzek et al. 2020
    // perplexity filter, with the KenLM 5-gram model replaced by a
    // corpus-trained word-bigram model with add-one smoothing — the same
    // filter shape, deterministic and oracle-expressible). Per document:
    // cross-entropy = -avg ln P(w_i | w_{i-1}), P = (c2+1)/(c1+V).
    // High cross-entropy = improbable word sequences (gibberish, keyword
    // stuffing); a standard curation signal next to q27/q56/q61/q69.
    // Scale shape: the bigram explode stays in the scan stage; model
    // counts are two algebraic aggregates on compact (w1[,w2]) keys; the
    // scoring join carries (doc_id, w1, w2) — never text. At production
    // scale the model is trained once, pruned to top-M n-grams, and
    // BROADCAST to the scoring pass (the per-ingest cost is map-only);
    // here model and corpus are the same small table so plain joins win.
    ("q72_lm_perplexity",
      (s, d) => {
        val m = bigramModel(s, d)
        crossEntropy(m.bi.join(m.c2, Seq("w1", "w2")).join(m.c1, Seq("w1")),
          col("c2"), m.vocab, "cross_entropy")
      },
      Some(bigramModelSql + """
             c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2),
             sc AS (SELECT doc_id, count(*) AS n_bigrams,
                      sum(ln((c2 + 1.0) / (c1 + v))) AS ll
                    FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
                    GROUP BY doc_id)
             SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
                    round(-ll / n_bigrams, 6) AS cross_entropy
             FROM sc ORDER BY doc_id""")),

    // ---- Corpus length-distribution statistics: per-language
    // decimal-magnitude histogram (mag = number of digits of n_chars —
    // an integer-exact bucket, immune to the float-log2 ulp drift a
    // log-bucket would risk cross-engine) with within-language share,
    // plus discrete p50/p90 char-length quantiles selected by exact
    // rank (value at row_number == ceil(q·n), the type-stable discrete
    // quantile both engines compute identically — no interpolation).
    // The histogram is algebraic two-level agg (map-side partials); the
    // quantile needs one per-language sort, which at 10^12 rows is
    // replaced by a mergeable sketch (t-digest / percentile_approx) —
    // this exact form is the oracle-checkable reference semantics.
    ("q78_length_stats",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = tbl(s, d, "documents")
          .select(col("lang"), col("n_chars"), col("doc_id"),
            length(col("n_chars").cast("string")).as("mag"))
        val hist = docs.groupBy("lang", "mag").agg(count(lit(1)).as("n_docs"))
        val tot = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"),
          ceil(count(lit(1)) * 0.5).as("r50"), ceil(count(lit(1)) * 0.9).as("r90"))
        val rk = docs.withColumn("rn",
          row_number().over(Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))))
        val qs = rk.join(tot, Seq("lang"))
          .groupBy("lang")
          .agg(max(when(col("rn") === col("r50"), col("n_chars"))).as("p50_chars"),
               max(when(col("rn") === col("r90"), col("n_chars"))).as("p90_chars"))
        hist.join(tot.select("lang", "n_lang"), Seq("lang")).join(qs, Seq("lang"))
          .select(col("lang"), col("mag"), col("n_docs"),
            round(col("n_docs").cast("double") / col("n_lang"), 6).as("share"),
            col("p50_chars"), col("p90_chars"))
          .orderBy("lang", "mag")
      },
      Some("""WITH d AS (SELECT lang, n_chars, doc_id,
               length(CAST(n_chars AS VARCHAR)) AS mag FROM documents),
             hist AS (SELECT lang, mag, count(*) AS n_docs FROM d GROUP BY 1,2),
             tot AS (SELECT lang, count(*) AS n_lang,
               ceil(count(*) * 0.5) AS r50, ceil(count(*) * 0.9) AS r90 FROM d GROUP BY 1),
             rk AS (SELECT lang, n_chars,
               row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn FROM d),
             qs AS (SELECT rk.lang,
               max(CASE WHEN rn = r50 THEN n_chars END) AS p50_chars,
               max(CASE WHEN rn = r90 THEN n_chars END) AS p90_chars
             FROM rk JOIN tot USING (lang) GROUP BY rk.lang)
             SELECT hist.lang, CAST(mag AS INT) AS mag, CAST(n_docs AS BIGINT) AS n_docs,
               round(n_docs * 1.0 / n_lang, 6) AS share, p50_chars, p90_chars
             FROM hist JOIN tot USING (lang) JOIN qs USING (lang)
             ORDER BY lang, mag""")),

    // ---- HyperLogLog distinct-count sketch, cross-engine EXACT
    // (Flajolet et al. 2007): the approximate-counting primitive a
    // 10^12-row corpus needs where exact count-distinct means shuffling
    // every key (here: distinct 3-gram shingles per language — ~2^60
    // possible keys at web scale). m=64 md5-derived registers
    // (bucket = first byte mod 64, rho = leading-zero rank of the next
    // 60 bits); register max is an algebraic aggregate (map-side
    // combine, mergeable across partitions AND across days — the
    // sketch union is just max()). Oracle-able because every step is
    // integer-exact: register weights 2^(61-rho) are summed as exact
    // decimals (no float-summation-order drift), with a single
    // double division at the end — bit-identical in both engines.
    // The raw estimator (no small-range correction) applies: n_exact
    // here is 3k-9k per lang >> 2.5m = 160; expected stderr
    // 1.04/sqrt(64) ~= 13%, and rel_error is REPORTED per row.
    ("q82_hll_distinct",
      (s, d) => {
        val sh = tbl(s, d, "documents")
          .withColumn("toks", tokens(col("text")))
          // explode_OUTER + null filter: the q60/q24 pathology guard
          // (inner explode makes Catalyst push an inferred size()>0
          // predicate with the whole shingle pipeline into the scan).
          .select(col("lang"), explode_outer(shingles3(col("toks"))).as("g"))
          .where(col("g").isNotNull)
        // No distinct before the register fold: max over the multiset
        // equals max over the distinct set (SketchStats scaladoc), so
        // the oracle's DISTINCT CTE is matched without the extra
        // exchange it would cost here.
        val rho = SketchStats.hllRegisters(sh, "g", "lang")
        val agg = rho.groupBy("lang").agg(
          count(lit(1)).cast("int").as("hll_regs_hit"),
          SketchStats.hllWeightSum(col("r")).as("s_hit"))
        val ex = sh.groupBy("lang").agg(countDistinct("g").as("n_exact"))
        val est = SketchStats.hllEstimate(col("s_hit"), col("hll_regs_hit"))
        agg.join(ex, Seq("lang"))
          .select(col("lang"), col("n_exact"), col("hll_regs_hit"),
            round(est, 4).as("hll_estimate"),
            round(abs(est - col("n_exact")) / col("n_exact"), 4).as("rel_error"))
          .orderBy("lang")
      },
      Some("""WITH t AS (SELECT lang, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
             sh AS (SELECT lang, unnest(list_transform(range(1, greatest(len(toks)-1,1)),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
                    FROM t WHERE len(toks) >= 3),
             dt AS (SELECT DISTINCT lang, md5(g) AS hx FROM sh),
             reg AS (SELECT lang,
                 CAST('0x' || substr(hx, 1, 2) AS BIGINT) % 64 AS bucket,
                 CAST('0x' || substr(hx, 3, 15) AS BIGINT) AS v
               FROM dt),
             rho AS (SELECT lang, bucket,
                 max(CASE WHEN v = 0 THEN 61 ELSE 61 - length(bin(v)) END) AS r
               FROM reg GROUP BY 1, 2),
             agg AS (SELECT lang, CAST(count(*) AS INT) AS hll_regs_hit,
                 CAST(sum(1::BIGINT << (61 - r)) AS DOUBLE) AS s_hit
               FROM rho GROUP BY 1),
             ex AS (SELECT lang, CAST(count(DISTINCT g) AS BIGINT) AS n_exact FROM sh GROUP BY 1)
             SELECT agg.lang AS lang, n_exact, hll_regs_hit,
               round(0.709 * 4096 * 2305843009213693952 / (s_hit + (64 - hll_regs_hit) * 2305843009213693952.0), 4) AS hll_estimate,
               round(abs(0.709 * 4096 * 2305843009213693952 / (s_hit + (64 - hll_regs_hit) * 2305843009213693952.0) - n_exact) / n_exact, 4) AS rel_error
             FROM agg JOIN ex ON agg.lang = ex.lang ORDER BY lang""")),

    // ---- Count-Min sketch heavy hitters (Cormode & Muthukrishnan 2005),
    // cross-engine EXACT — q82's HLL answers "how many distinct"; this
    // answers "how often does each frequent item occur" in fixed memory.
    // d=4 rows × w=256 columns of counters; hash_i(term) = 28 md5 bits
    // of "i:term" mod w. Counter updates are commutative integer sums →
    // order-free and bit-identical in both engines; estimate = min over
    // the 4 row counters, which NEVER underestimates (every collision
    // only adds). The sketch is an algebraic aggregate: partials merge
    // by cell-wise addition across partitions/executors/days, so a
    // 10^12-token corpus maintains term frequencies in d·w longs where
    // the exact count it replaces shuffles every token. Reported for
    // the top-20 exact heavy hitters (TakeOrdered, no global window)
    // with the observed overestimate per term; the CMS guarantee is
    // overest ≤ e/w · N with prob ≥ 1-e^-d.
    ("q83_cms_heavy_hitters",
      (s, d) => {
        val occ = occurrences(s, d).select(col("term"))
        val counters = SketchStats.cmsCounters(occ, "term")
        val topk = occ.groupBy("term").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("term")).limit(20)
        topk
          .select(col("term"), col("n_exact"),
            SketchStats.cmsCells(col("term")).as(Seq("row", "cell")))
          .join(broadcast(counters), Seq("row", "cell"))
          .groupBy("term", "n_exact").agg(min("c").as("cms_estimate"))
          .select(col("term"), col("n_exact"), col("cms_estimate"),
            (col("cms_estimate") - col("n_exact")).as("overest"))
          .orderBy(col("n_exact").desc, col("term"))
      },
      Some("""WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS term FROM documents),
             rows AS (SELECT unnest([0,1,2,3]) AS row),
             cells AS (SELECT term, row,
                 CAST('0x' || substr(md5(CAST(row AS VARCHAR) || ':' || term), 1, 7) AS BIGINT) % 256 AS cell
               FROM t, rows),
             counters AS (SELECT row, cell, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY 1, 2),
             topk AS (SELECT term, CAST(count(*) AS BIGINT) AS n_exact FROM t
                      GROUP BY 1 ORDER BY n_exact DESC, term LIMIT 20),
             probes AS (SELECT term, n_exact, row,
                 CAST('0x' || substr(md5(CAST(row AS VARCHAR) || ':' || term), 1, 7) AS BIGINT) % 256 AS cell
               FROM topk, rows),
             est AS (SELECT term, n_exact, min(c) AS cms_estimate
               FROM probes JOIN counters USING (row, cell) GROUP BY 1, 2)
             SELECT term, n_exact, CAST(cms_estimate AS BIGINT) AS cms_estimate,
               CAST(cms_estimate - n_exact AS BIGINT) AS overest
             FROM est ORDER BY n_exact DESC, term""")),

    // ---- q70's documented production variant, shipped: the bloom
    // pre-pass in front of the dup-window coverage join. At corpus
    // scale ~99% of 8-token windows are unique, yet q70's coverage join
    // shuffles every (doc_id, pos, hash) triple to meet the dup set.
    // Here the dup hashes (the tiny side) are folded into a distributed
    // bloom filter (graft_bloom_agg partial aggregate, xxhash64 keys)
    // and every window probes it MAP-SIDE (graft_might_contain,
    // codegen) before the shuffle — unique windows never leave their
    // scan task. Bloom FPs only admit extra candidates that the exact
    // join then drops; no FNs exist, so the output is byte-identical to
    // q70: the oracle is q70's own SQL, and a green row proves the
    // prefilter lost nothing. `CorpusOpsSpec` additionally asserts the
    // candidate-set reduction actually happened.
    ("q85_dup_span_bloom",
      (s, d) => {
        val t = tokenFrame(s, d)
        val windows = windowHashes(t)
        val dups = dupHashes(windows).localCheckpoint()
        val bloomBytes = dups
          .agg(call_function("graft_bloom_agg", xxhash64(col("h")), lit(1000000L)))
          .head.getAs[Array[Byte]](0)
        val candidates = windows.where(
          call_function("graft_might_contain", lit(bloomBytes), xxhash64(col("h"))))
        coverage(t, candidates, dups)
      },
      Some(dupSpanSql)),

    // ---- q72's documented production variant, shipped: LM scoring
    // against a PRUNED model BROADCAST to a map-only scoring pass.
    // Production never joins the corpus against a full bigram table by
    // shuffle — it trains once, prunes hapax bigrams (c2 >= 2 keeps the
    // bigram side broadcastable: pruned size is O(repeated bigrams), a
    // tiny fraction of corpus bigrams by Zipf), and ships (pruned c2 +
    // unigram c1) to every task; a pruned-away bigram scores as unseen
    // (c2' = 0), i.e. (0+1)/(c1+V) under the same add-one smoothing.
    // Scope of the broadcast claim: c1 here is the UNpruned unigram
    // table, fine at any vocab a single model ships (KenLM-style vocabs
    // are 10^5-10^6 after the min-count cut); at raw web scale the
    // distinct-\S+ tail is larger and production applies the same
    // min-count prune to c1 (rare tokens fold into one <unk> count)
    // BEFORE broadcasting — that changes smoothing semantics, so this
    // oracle-checked form keeps c1 exact and prunes only c2.
    // The rule is deterministic, so the oracle applies it identically —
    // and the pruning direction is provable: dropping a hapax bigram
    // can only lower its probability, so per-doc cross_entropy_pruned
    // >= q72's cross_entropy, with equality exactly for documents with
    // no hapax bigrams (`CorpusOpsSpec` asserts both, plus the
    // broadcast scoring plan).
    ("q86_lm_broadcast_scoring",
      (s, d) => {
        val m = bigramModel(s, d)
        val c2p = m.c2.where(col("c2") >= 2) // the prune: hapax bigrams stay home
        // Map-only scoring: both model sides broadcast; unseen/pruned
        // bigrams coalesce to c2'=0. (c1 always exists: it was counted
        // from the very bigrams being scored.)
        crossEntropy(
          m.bi.join(broadcast(c2p), Seq("w1", "w2"), "left").join(broadcast(m.c1), Seq("w1")),
          coalesce(col("c2"), lit(0L)), m.vocab, "cross_entropy_pruned")
      },
      Some(bigramModelSql + """
             c2p AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2
                     HAVING count(*) >= 2),
             sc AS (SELECT doc_id, count(*) AS n_bigrams,
                      sum(ln((coalesce(c2, 0) + 1.0) / (c1 + v))) AS ll
                    FROM bi LEFT JOIN c2p USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
                    GROUP BY doc_id)
             SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
                    round(-ll / n_bigrams, 6) AS cross_entropy_pruned
             FROM sc ORDER BY doc_id""")),

    // ---- Cross-snapshot sketch drift: estimate how much two crawls'
    // shingle vocabularies overlap from their HLL REGISTERS ALONE —
    // union registers are per-bucket max (the q82 merge), intersection
    // follows by inclusion-exclusion |A∩B| ≈ Ȃ + B̂ − Â∪B, so two 512-
    // byte sketches answer "how much is new in this crawl?" per
    // language without touching either corpus again (the monitoring
    // primitive behind incremental-crawl budgeting; exact answers need
    // a full distinct-join of both snapshots). Snapshots are the
    // doc-parity halves; exact per-lang intersection ships alongside
    // as the reference column. Inclusion-exclusion noise compounds
    // three raw estimators, so the spec bounds the overlap estimate
    // loosely; cross-engine the math is still bit-exact (integer
    // registers, decimal weight sums, one double expression per
    // estimate).
    ("q91_sketch_drift",
      (s, d) => {
        val sh = tbl(s, d, "documents")
          .withColumn("toks", tokens(col("text")))
          .select((col("doc_id") % 2 === 0).as("ha"), col("lang"),
            explode_outer(shingles3(col("toks"))).as("g"))
          .where(col("g").isNotNull)
          .localCheckpoint() // feeds registers AND the exact reference
        val reg = SketchStats.hllRegisters(sh, "g", "ha", "lang")
        val piv = reg.groupBy("lang", "bucket").agg(
          max(when(col("ha"), col("r"))).as("ra"),
          max(when(!col("ha"), col("r"))).as("rb"),
          max("r").as("ru"))
        def sHit(c: String) = SketchStats.hllWeightSum(col(c))
        val agg = piv.groupBy("lang").agg(
          count(col("ra")).cast("int").as("hit_a"), sHit("ra").as("sa"),
          count(col("rb")).cast("int").as("hit_b"), sHit("rb").as("sb"),
          count(col("ru")).cast("int").as("hit_u"), sHit("ru").as("su"))
        def est(sC: String, hitC: String) = SketchStats.hllEstimate(col(sC), col(hitC))
        // INTERSECT is already set-semantic — a distinct on each side
        // would just add two full shuffles of the widest table here.
        val inter = sh.where(col("ha")).select("lang", "g")
          .intersect(sh.where(!col("ha")).select("lang", "g"))
          .groupBy("lang").agg(count(lit(1)).as("n_exact_inter"))
        // LEFT join: a language with ZERO cross-half overlap ("all new
        // this crawl" — the very signal this monitor exists for) must
        // report 0, not vanish from the table.
        agg.join(inter, Seq("lang"), "left")
          .select(col("lang"),
            coalesce(col("n_exact_inter"), lit(0L)).as("n_exact_inter"),
            round(est("sa", "hit_a"), 4).as("hll_est_a"),
            round(est("sb", "hit_b"), 4).as("hll_est_b"),
            round(est("sa", "hit_a") + est("sb", "hit_b") - est("su", "hit_u"), 4)
              .as("hll_est_inter"),
            round((est("sa", "hit_a") + est("sb", "hit_b") - est("su", "hit_u")) /
              est("su", "hit_u"), 4).as("overlap_est"),
            // The estimate's own noise floor, REPORTED so a consumer
            // can tell signal from sketch noise: each raw estimator has
            // stderr 1.04/√m of ITS set size, so the inclusion-
            // exclusion difference carries absolute noise on the order
            // of 1.04/√m · |A∪B| — when the true intersection is far
            // below this, the sketch can only say "small" (1.04/8 is a
            // power-of-two scaling, bit-identical in both engines).
            round(lit(1.04 / 8) * est("su", "hit_u"), 4).as("noise_scale"))
          .orderBy("lang")
      },
      Some("""WITH t AS (SELECT doc_id % 2 = 0 AS ha, lang,
                    regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
             sh AS (SELECT ha, lang, unnest(list_transform(range(1, greatest(len(toks)-1,1)),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
                    FROM t WHERE len(toks) >= 3),
             dt AS (SELECT DISTINCT ha, lang, md5(g) AS hx FROM sh),
             reg AS (SELECT ha, lang,
                 CAST('0x' || substr(hx, 1, 2) AS BIGINT) % 64 AS bucket,
                 max(CASE WHEN CAST('0x' || substr(hx, 3, 15) AS BIGINT) = 0 THEN 61
                     ELSE 61 - length(bin(CAST('0x' || substr(hx, 3, 15) AS BIGINT))) END) AS r
               FROM dt GROUP BY 1, 2, 3),
             piv AS (SELECT lang, bucket,
                 max(CASE WHEN ha THEN r END) AS ra,
                 max(CASE WHEN NOT ha THEN r END) AS rb,
                 max(r) AS ru
               FROM reg GROUP BY 1, 2),
             agg AS (SELECT lang,
                 CAST(count(ra) AS INT) AS hit_a,
                 CAST(sum(CASE WHEN ra IS NOT NULL THEN 1::BIGINT << (61 - ra) END) AS DOUBLE) AS sa,
                 CAST(count(rb) AS INT) AS hit_b,
                 CAST(sum(CASE WHEN rb IS NOT NULL THEN 1::BIGINT << (61 - rb) END) AS DOUBLE) AS sb,
                 CAST(count(ru) AS INT) AS hit_u,
                 CAST(sum(CASE WHEN ru IS NOT NULL THEN 1::BIGINT << (61 - ru) END) AS DOUBLE) AS su
               FROM piv GROUP BY 1),
             inter AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact_inter FROM (
                 SELECT lang, g FROM sh WHERE ha
                 INTERSECT
                 SELECT lang, g FROM sh WHERE NOT ha) GROUP BY 1)
             SELECT agg.lang AS lang,
               CAST(coalesce(n_exact_inter, 0) AS BIGINT) AS n_exact_inter,
               round(0.709 * 4096 * 2305843009213693952 / (sa + (64 - hit_a) * 2305843009213693952.0), 4) AS hll_est_a,
               round(0.709 * 4096 * 2305843009213693952 / (sb + (64 - hit_b) * 2305843009213693952.0), 4) AS hll_est_b,
               round(0.709 * 4096 * 2305843009213693952 / (sa + (64 - hit_a) * 2305843009213693952.0)
                   + 0.709 * 4096 * 2305843009213693952 / (sb + (64 - hit_b) * 2305843009213693952.0)
                   - 0.709 * 4096 * 2305843009213693952 / (su + (64 - hit_u) * 2305843009213693952.0), 4) AS hll_est_inter,
               round((0.709 * 4096 * 2305843009213693952 / (sa + (64 - hit_a) * 2305843009213693952.0)
                   + 0.709 * 4096 * 2305843009213693952 / (sb + (64 - hit_b) * 2305843009213693952.0)
                   - 0.709 * 4096 * 2305843009213693952 / (su + (64 - hit_u) * 2305843009213693952.0))
                   / (0.709 * 4096 * 2305843009213693952 / (su + (64 - hit_u) * 2305843009213693952.0)), 4) AS overlap_est,
               round((1.04 / 8) * (0.709 * 4096 * 2305843009213693952 / (su + (64 - hit_u) * 2305843009213693952.0)), 4) AS noise_scale
             FROM agg LEFT JOIN inter ON agg.lang = inter.lang ORDER BY lang"""))
  )
}
