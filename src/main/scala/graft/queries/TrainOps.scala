package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryUtil._

/** Training-sequence engineering operators: the steps between a curated
  * corpus and a tokenized training set — window chunking (document →
  * fixed-size overlapping token sequences), deterministic stratified
  * sampling (per-language mixture control), and mixture-weight
  * computation. All oracle-checked; all map-only or single-aggregation.
  *
  * Determinism note: sampling uses md5(doc_id) hex-prefix thresholds —
  * the one hash shared by both engines — so the sample is a pure
  * function of doc_id, reproducible across runs/engines, and
  * rate-monotone (raising a rate only ADDS documents, never reshuffles
  * the kept set — the property a data-mixture ablation needs).
  */
object TrainOps {

  type Q = (String, (SparkSession, String) => DataFrame, Option[String])

  private val W = 50 // window tokens
  private val S = 40 // stride (10-token overlap)

  private val HostCap = 10 // q80/q84: docs kept per host

  /** Synthetic host: h0 for every third doc (the Zipf head), else h(doc_id % 40). */
  private def hostCol: Column =
    concat(lit("h"), when(col("doc_id") % 3 === 0, lit(0L)).otherwise(col("doc_id") % 40))

  private def rkKeyCol: Column = md5(col("doc_id").cast("string"))

  // ---- Stages q57, q58, q60, q75, q80 and q84 share with
  // app.CorpusPipeline. Each caller passes its own id, key and order
  // columns (doc_id here, url in the pipeline).

  /** q57's token windows over a frame with `toks` and its size `n`: one
    * row per `w`-token window at stride `st` (`win_id` from 0, tokens in
    * `win`).
    */
  def tokenWindows(docs: DataFrame, w: Int, st: Int): DataFrame = docs
    .withColumn("win_id", explode(sequence(lit(0),
      ceil(greatest(col("n") - w, lit(0)).cast("double") / st).cast("int"))))
    .withColumn("win", slice(col("toks"), col("win_id") * st + 1, lit(w)))

  /** q58's per-language keep predicate: en 80% / de 50% / others 20%,
    * kept iff the first md5 byte of `key` is below rate×256 (2 hex chars).
    */
  def sampleKept(lang: Column, key: Column): Column = {
    val h = substring(md5(key), 1, 2)
    when(lang === "en", h < "cc")       // 204/256 ≈ 80%
      .when(lang === "de", h < "80")    // 128/256 = 50%
      .otherwise(h < "33")              //  51/256 ≈ 20%
  }

  /** q60's eval shingle set: the distinct non-null shingles of the `sh`
    * arrays. explode_OUTER on purpose: a plain explode makes Catalyst
    * infer a `size(sh) > 0` scan filter with the whole tokenize→shingle
    * pipeline inlined (the q24 round-1 pathology, BENCH.md).
    */
  def shingleSet(eval: DataFrame): DataFrame =
    eval.select(explode_outer(col("sh")).as("shingle"))
      .where(col("shingle").isNotNull).distinct()

  /** q60's contamination probe: one (`idCol`, shingle) row per shingle of
    * `docs`' `sh` arrays that is in the (small, broadcast) `evalSet`.
    */
  def shingleHits(docs: DataFrame, idCol: String, evalSet: DataFrame): DataFrame =
    docs.select(col(idCol), explode_outer(col("sh")).as("shingle"))
      .join(broadcast(evalSet), Seq("shingle"))

  /** q75's two-level prefix sum: adds `tok_offset`, the sum of `n_toks`
    * over every row before this one in (bucket, `order`) order.
    */
  def prefixOffsets(t: DataFrame, order: Column*): DataFrame = {
    val bucketPrefix = t.groupBy("bucket").agg(sum("n_toks").as("btoks"))
      .withColumn("bucket_offset",
        coalesce(sum("btoks").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "bucket_offset")
    val w = Window.partitionBy("bucket").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(bucketPrefix), "bucket")
      .withColumn("tok_offset",
        col("bucket_offset") + coalesce(sum("n_toks").over(w), lit(0L)))
  }

  /** q80's per-host rank: row_number over `host` ordered by (rank key, id). */
  def hostRank(rankKey: Column, id: Column): Column =
    row_number().over(Window.partitionBy("host").orderBy(rankKey, id))

  /** The `t` CTE (doc_id, host, rk_key) of q80's and q84's oracles. */
  private val hostCapSql =
    """WITH t AS (SELECT doc_id,
         'h' || (CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 40 END) AS host,
         md5(CAST(doc_id AS VARCHAR)) AS rk_key
       FROM documents),"""

  val defs: Seq[Q] = Seq(

    // ---- Token-window chunking: document → overlapping W-token
    // training sequences with stride S. One row per window; the md5 of
    // the joined window is the cross-engine content proof. Map-only
    // 1→N explode — at corpus scale this is the sequence-packing
    // pre-pass, and the explode stays inside one narrow stage.
    ("q57_token_windows",
      (s, d) => {
        val t = tbl(s, d, "documents")
          .withColumn("toks", tokens(col("text")))
          .withColumn("n", size(col("toks")))
          .where(col("n") > 0)
        tokenWindows(t, W, S)
          .select(col("doc_id"), col("win_id"),
            size(col("win")).as("n_win_toks"),
            md5(concat_ws(" ", col("win"))).as("win_md5"))
          .orderBy("doc_id", "win_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks,
                    len(regexp_extract_all(lower(text), '\\S+')) AS n
                  FROM documents),
             w AS (SELECT doc_id, toks, n, CAST(u.i AS INT) AS win_id
                   FROM t, unnest(range(0, CAST(ceil(greatest(n - $W, 0) / $S.0) AS BIGINT) + 1)) AS u(i)
                   WHERE n > 0)
             SELECT doc_id, win_id,
               CAST(len(toks[win_id*$S+1 : least(win_id*$S+$W, n)]) AS INT) AS n_win_toks,
               md5(array_to_string(toks[win_id*$S+1 : least(win_id*$S+$W, n)], ' ')) AS win_md5
             FROM w ORDER BY doc_id, win_id""")),

    // ---- GPT-style sequence PACKING (concat-and-chop): all documents
    // concatenated in doc_id order and chopped into fixed L-token
    // training sequences — the packing step real pretraining pipelines
    // run AFTER curation (q57's per-doc windows are the other chunking
    // regime; packing is what eliminates padding waste for short docs).
    // Per doc: its global token offset, the first/last sequence it
    // lands in, and how many sequences it spans.
    //
    // Scale shape — the naive form is a corpus-wide ORDER BY window
    // (one reducer at 10^12 rows); this is the standard DISTRIBUTED
    // PREFIX SUM instead: level 1 aggregates per-bucket token totals
    // and runs the only unpartitioned window over THAT; level 2's
    // intra-bucket cumsum is partitioned by bucket, so every
    // corpus-sized shuffle/window is parallel and the bucket-offset
    // table broadcasts. Bucket size is √n-adaptive: a FIXED size would
    // blow up one side or the other at the design point (64 docs/bucket
    // → 1.5×10^10 bucket rows through the single-reducer window at
    // 10^12 docs); √n balances both levels at ~10^6 rows each. The
    // count() that sizes it is parquet-footer metadata, not a scan.
    ("q75_sequence_packing",
      (s, d) => {
        val nDocs = tbl(s, d, "documents").count()
        val bucketDocs = math.max(64L, math.ceil(math.sqrt(nDocs.toDouble)).toLong)
        val t = tbl(s, d, "documents")
          .withColumn("n_toks", size(tokens(col("text"))))
          .select(col("doc_id"), col("n_toks"))
          .withColumn("bucket", expr(s"doc_id div $bucketDocs"))
        prefixOffsets(t, col("doc_id"))
          .withColumn("seq_first", expr("tok_offset div 128"))
          .withColumn("seq_last",
            expr("(tok_offset + greatest(n_toks, 1) - 1) div 128"))
          .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
          .select(col("doc_id"), col("n_toks").cast("int").as("n_toks"),
            col("tok_offset"), col("seq_first"), col("seq_last"), col("n_seqs"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
                 len(regexp_extract_all(lower(text), '\S+')) AS n_toks
               FROM documents),
             o AS (SELECT doc_id, n_toks,
                     coalesce(sum(n_toks) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
                   FROM t)
             SELECT doc_id, CAST(n_toks AS INT) AS n_toks,
               CAST(off AS BIGINT) AS tok_offset,
               CAST(off // 128 AS BIGINT) AS seq_first,
               CAST((off + greatest(n_toks, 1) - 1) // 128 AS BIGINT) AS seq_last,
               CAST((off + greatest(n_toks, 1) - 1) // 128 - off // 128 + 1 AS BIGINT) AS n_seqs
             FROM o ORDER BY doc_id""")),

    // ---- Deterministic stratified sampling: per-language keep rates
    // via md5 hex-prefix threshold (en 80% / de 50% / others 20% — a
    // typical mixture rebalance). threshold = rate×256 in 2 hex chars;
    // kept iff the first md5 byte is below it.
    ("q58_stratified_sample",
      (s, d) => {
        tbl(s, d, "documents")
          .withColumn("kept", sampleKept(col("lang"), col("doc_id").cast("string")))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
               sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
          .orderBy("lang")
      },
      Some("""WITH t AS (SELECT lang,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
             FROM documents)
             SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN (lang = 'en' AND h < 'cc')
                          OR (lang = 'de' AND h < '80')
                          OR (lang NOT IN ('en','de') AND h < '33')
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             FROM t GROUP BY lang ORDER BY lang""")),

    // ---- Mixture weights: each language's share of corpus tokens —
    // the sampling-weight table a data-mixture config consumes. One
    // partial-aggregated shuffle + a broadcast of the single total.
    ("q59_mixture_weights",
      (s, d) => {
        val t = tbl(s, d, "documents")
          .withColumn("n_toks", size(tokens(col("text"))).cast("long"))
          .groupBy("lang").agg(sum("n_toks").as("lang_tokens"))
        val total = t.agg(sum("lang_tokens").as("total"))
        t.crossJoin(broadcast(total))
          .select(col("lang"), col("lang_tokens"),
            round(col("lang_tokens").cast("double") / col("total"), 6).as("weight"))
          .orderBy("lang")
      },
      Some("""WITH t AS (SELECT lang,
               CAST(sum(len(regexp_extract_all(lower(text), '\S+'))) AS BIGINT) AS lang_tokens
             FROM documents GROUP BY lang)
             SELECT lang, lang_tokens,
               round(CAST(lang_tokens AS DOUBLE) / (SELECT sum(lang_tokens) FROM t), 6) AS weight
             FROM t ORDER BY lang""")),

    // ---- Decontamination: flag corpus documents sharing any word
    // 5-gram with the held-out eval slice (doc_id % 50 == 0 stands in
    // for the benchmark set) — the n-gram-overlap hygiene check run
    // before training. Scale shape: the eval side is SMALL by
    // definition, so its distinct shingle set broadcasts and the check
    // is a map-side semi-join over the corpus — no corpus shuffle.
    ("q60_decontamination",
      (s, d) => {
        // Tokenize into a materialized column first; with explode_OUTER
        // (shingleSet) this keeps the shingle pipeline out of the scan
        // filter — measured 40s vs 1.5s at sf0.1.
        val t = tbl(s, d, "documents")
          .withColumn("toks", tokens(col("text")))
          .withColumn("sh", shingles5(col("toks")))
        val eval_ = shingleSet(t.where(col("doc_id") % 50 === 0))
        val corpus = t.where(col("doc_id") % 50 =!= 0)
        val hits = shingleHits(corpus, "doc_id", eval_)
          .groupBy("doc_id").agg(countDistinct("shingle").as("n_shared"))
        corpus.select("doc_id")
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"),
            coalesce(col("n_shared"), lit(0L)) > 0)
          .toDF("doc_id", "n_shared", "contaminated")
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
             sh AS (SELECT doc_id, CASE WHEN len(toks) >= 5 THEN
                      list_distinct(list_transform(range(1, greatest(len(toks)-3,1)),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))
                    ELSE [] END AS sh FROM t),
             ev AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % 50 = 0),
             cs AS (SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id % 50 != 0),
             hits AS (SELECT cs.doc_id, count(DISTINCT cs.shingle) AS n_shared
                      FROM cs JOIN ev USING (shingle) GROUP BY cs.doc_id)
             SELECT s.doc_id,
               CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
               coalesce(h.n_shared, 0) > 0 AS contaminated
             FROM (SELECT doc_id FROM documents WHERE doc_id % 50 != 0) s
             LEFT JOIN hits h USING (doc_id)
             ORDER BY doc_id""")),

    // ---- Per-host document cap (RefinedWeb/C4-style domain balancing):
    // at most K docs per host, selected by deterministic md5 rank so
    // the "sample" is reproducible across runs and engines — the quota
    // complement of q58's RATE-based Bernoulli sampling (a rate can't
    // bound a mega-host's absolute contribution; a cap can't express
    // per-language proportions — pipelines run both). Planted hosts
    // with a Zipf head (host h0 carries ~1/3 of docs). One shuffle on
    // host for the rank window. 10^12-scale note: a global per-host
    // sort is wasteful when K ≪ host size — production replaces the
    // window with an algebraic per-partition top-K partial (each map
    // task keeps its K smallest (rank_key, doc) pairs per host, the
    // reduce side merges ≤ K·partitions candidates), same semantics,
    // no full sort; AQE skew-split covers the hot host either way.
    ("q80_host_cap",
      (s, d) => {
        tbl(s, d, "documents")
          .withColumn("host", hostCol)
          .withColumn("rk_key", rkKeyCol)
          .withColumn("rk", hostRank(col("rk_key"), col("doc_id")))
          .select(col("doc_id"), col("host"), col("rk"), (col("rk") <= HostCap).as("kept"))
          .orderBy("doc_id")
      },
      Some(hostCapSql + """
             r AS (SELECT doc_id, host,
               CAST(row_number() OVER (PARTITION BY host ORDER BY rk_key, doc_id) AS INT) AS rk
             FROM t)
             SELECT doc_id, host, rk, (rk <= 10) AS kept
             FROM r ORDER BY doc_id""")),

    // ---- q80's documented production variant, shipped: the per-host
    // cap as an ALGEBRAIC per-partition top-K partial instead of a
    // global per-host sort window. Phase 1 (map side, before any
    // shuffle): each task keeps only its K smallest (rk_key, doc_id)
    // pairs per host in a bounded heap — the partial is mergeable, so
    // the shuffle carries ≤ K·partitions candidates per host instead of
    // every row of a mega-host. Phase 2: the exact top-K over that
    // bounded candidate set. Emits the KEPT set only (what production
    // materializes; ranks of dropped rows are what the window variant
    // pays a full sort for). Oracle = the same quota as q80, so a green
    // row PROVES partial-top-K ≡ window semantics; `TrainOpsSpec` also
    // asserts row-for-row equality with q80's kept set.
    ("q84_host_cap_topk",
      (s, d) => {
        import s.implicits._
        val base = tbl(s, d, "documents")
          .withColumn("host", hostCol)
          .select(col("doc_id"), col("host"), rkKeyCol.as("rk_key"))
        val survivors = base.as[(Long, String, String)].mapPartitions { it =>
          import scala.collection.mutable
          // max-heap per host: the root is the WORST kept pair, evicted
          // the moment a better one arrives — O(hosts·K) memory per task.
          val heaps = mutable.HashMap.empty[String, mutable.PriorityQueue[(String, Long)]]
          it.foreach { case (docId, host, rkKey) =>
            val h = heaps.getOrElseUpdate(host,
              mutable.PriorityQueue.empty[(String, Long)](Ordering.Tuple2[String, Long]))
            if (h.size < HostCap) h.enqueue((rkKey, docId))
            else if (Ordering.Tuple2[String, Long].lt((rkKey, docId), h.head)) {
              h.dequeue(); h.enqueue((rkKey, docId))
            }
          }
          heaps.iterator.flatMap { case (host, h) =>
            h.iterator.map { case (rkKey, docId) => (docId, host, rkKey) }
          }
        }.toDF("doc_id", "host", "rk_key")
        survivors
          .withColumn("rk", hostRank(col("rk_key"), col("doc_id")))
          .where(col("rk") <= HostCap)
          .select(col("doc_id"), col("host"))
          .orderBy("doc_id")
      },
      Some(hostCapSql + """
             r AS (SELECT doc_id, host,
               row_number() OVER (PARTITION BY host ORDER BY rk_key, doc_id) AS rk
             FROM t)
             SELECT doc_id, host FROM r WHERE rk <= 10 ORDER BY doc_id""")),

    // ---- DSIR-style importance weights (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling"): score
    // every raw document by how target-like its hashed-unigram profile
    // is, log w(x) = Σ_b f_b(x)·(ln p_target(b) − ln p_raw(b)) over
    // B=128 md5-hashed feature buckets with add-one smoothing. Target =
    // the planted eval slice (doc_id % 50 == 0, the q60 convention);
    // raw = everything else. The mixture-design complement of q58/q59:
    // those set PROPORTIONS, this RANKS individual documents for
    // resampling toward a target distribution. Scale shape: bucket
    // counts are one algebraic agg over (bucket) — 128 cells, the
    // hashed-feature trick exists precisely so the model NEVER grows
    // with the vocab; the log-ratio table broadcasts to a map-only
    // scoring join; per-doc Σ is ≤128 terms (6dp-rounded, the
    // cross-engine float contract).
    ("q88_dsir_weights",
      (s, d) => {
        val bk = tbl(s, d, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .select(col("doc_id"),
            (conv(substring(md5(col("term")), 1, 7), 16, 10).cast("long") % 128).as("b"))
          .localCheckpoint() // feeds the model agg AND the scoring pass
        val isTarget = col("doc_id") % 50 === 0
        val counts = bk.groupBy("b").agg(
          sum(when(isTarget, 1L).otherwise(0L)).as("ct"),
          sum(when(isTarget, 0L).otherwise(1L)).as("cr"))
        val tot = counts.agg(sum("ct"), sum("cr")).head
        val (tt, tr) = (tot.getLong(0), tot.getLong(1))
        val lr = counts.select(col("b"),
          (log((col("ct") + lit(1)).cast("double") / lit(tt + 128.0)) -
           log((col("cr") + lit(1)).cast("double") / lit(tr + 128.0))).as("lr"))
        bk.where(!isTarget)
          .groupBy("doc_id", "b").agg(count(lit(1)).as("f"))
          .join(broadcast(lr), Seq("b"))
          .groupBy("doc_id")
          .agg(sum("f").as("n_toks"), sum(col("f") * col("lr")).as("lw"))
          .select(col("doc_id"), col("n_toks"),
            round(col("lw"), 6).as("log_weight"),
            (round(col("lw"), 6) > 0).as("target_like"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
               FROM documents),
             bk AS (SELECT doc_id,
                 CAST('0x' || substr(md5(term), 1, 7) AS BIGINT) % 128 AS b FROM tok),
             counts AS (SELECT b,
                 sum(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END) AS ct,
                 sum(CASE WHEN doc_id % 50 != 0 THEN 1 ELSE 0 END) AS cr
               FROM bk GROUP BY 1),
             tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM counts),
             lr AS (SELECT b, ln((ct + 1.0) / (tt + 128.0)) - ln((cr + 1.0) / (tr + 128.0)) AS lr
                    FROM counts CROSS JOIN tot),
             docb AS (SELECT doc_id, b, count(*) AS f FROM bk
                      WHERE doc_id % 50 != 0 GROUP BY 1, 2),
             sc AS (SELECT doc_id, sum(f) AS n_toks, sum(f * lr) AS lw
                    FROM docb JOIN lr USING (b) GROUP BY 1)
             SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
               round(lw, 6) AS log_weight, (round(lw, 6) > 0) AS target_like
             FROM sc ORDER BY doc_id""")),

    // ---- BPE merge-pair counting: the inner loop of tokenizer
    // TRAINING at corpus scale — one merge round = the global histogram
    // of adjacent pre-token pairs, of which the argmax becomes the next
    // merge. Pre-tokens use q19's GPT-2-style pre-tokenizer regex so
    // the two queries describe the same token stream. Top-20 by count
    // with a lexicographic tiebreak (the cut is deterministic even when
    // counts tie). Scale shape: map-only pair explode → hash partial
    // agg (pair cardinality is bounded by vocab², and the partial agg
    // collapses each partition's stream before the exchange) → global
    // top-k via TakeOrderedAndProject, never a full sort; when exact
    // counts aren't needed the CMS heavy-hitter sketch (q83) is the
    // sublinear-memory alternative.
    ("q93_bpe_pair_counts",
      (s, d) => {
        val pre = "'(?:[sdmt]|ll|ve|re)|[a-z]+|[0-9]|[^\\sa-z0-9']+"
        val t = tbl(s, d, "documents")
          .select(regexp_extract_all(lower(col("text")), lit(pre), lit(0)).as("toks"))
          .where(size(col("toks")) >= 2) // also keeps sequence() ascending
        t.select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat(element_at(col("toks"), i), lit(" "),
              element_at(col("toks"), i + 1)))).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(20)
      },
      Some("""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text),
               '''(?:[sdmt]|ll|ve|re)|[a-z]+|[0-9]|[^\sa-z0-9'']+') AS toks
             FROM documents),
             p AS (SELECT toks[u.i] || ' ' || toks[u.i+1] AS pair
                   FROM t, unnest(range(1, len(toks))) AS u(i)),
             c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1)
             SELECT pair, n FROM c ORDER BY n DESC, pair LIMIT 20"""))
  )
}
