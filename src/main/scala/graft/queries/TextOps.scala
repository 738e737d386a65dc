package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryUtil._

/** Training-data pipeline operators over the `documents` table: token
  * statistics, quality scoring, language ID, exact + near dedup
  * (3-gram-shingle Jaccard brute force, MinHash+LSH scale path, SimHash
  * fingerprints), and a multimodal-metadata pass over the payload bytes.
  *
  * All hashing is md5-hex (identical across Spark and the DuckDB oracle);
  * everything is built from codegen'd higher-order functions — no UDFs in
  * any hot path, so whole-stage codegen spans the full pipeline up to the
  * shuffle.
  *
  * Scale notes (100 TB design point):
  *  - brute-force pair queries (q23/q31) are the correctness baseline;
  *    the shipped scale paths are q24 (MinHash banding: candidates only
  *    where a band collides — shuffle is O(docs·bands), join keys are
  *    128-bit band signatures, so bucket sizes stay tiny) and LSH
  *    bucketing for vectors (VectorOps).
  *  - token/shingle expansion happens inside one narrow stage; the only
  *    shuffles are the final group-bys/joins on compact keys.
  */
object TextOps {

  type Q = (String, (SparkSession, String) => DataFrame, Option[String])

  /** (doc_id, shingles) of every document with ≥1 shingle — the md5
    * family's (q24/q35) sketch input. The filter runs BEFORE the
    * shingles are derived, on the cheap Sketch.hasShingles precondition
    * (filtering on size(shingles) > 0 instead gets pushed below the
    * project, so the whole tokenize→shingle→distinct pipeline would
    * evaluate once in the Filter and again in the Project).
    */
  private def shingled(s: SparkSession, d: String): DataFrame =
    docToks(s, d).where(Sketch.hasShingles)
      .select(col("doc_id"), shingles3(col("toks")).as("shingles"))

  /** The md5 family's band rows (doc_id, band_id, band_sig): 16
    * seed-prefixed md5 minhashes from the single-pass codegen'd sketch
    * (plans.MinhashMd5 — equal to the transform/array_min pipeline,
    * property-tested in HashSketchSpec), banded 4 × 4. Repartitioned on
    * the join keys so both sides of the self band join share one
    * identical Exchange subtree, which Catalyst's ReuseExchange dedups:
    * the signature pipeline runs ONCE, not twice.
    */
  private def md5Bands(sh: DataFrame): DataFrame = sh
    .withColumn("sigs", call_function("minhash_md5", col("shingles")))
    .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("band_id"), col("sigs"))
    .withColumn("band_sig", concat_ws(",", slice(col("sigs"), col("band_id") * 4 + 1, lit(4))))
    .select("doc_id", "band_id", "band_sig")
    .repartition(col("band_id"), col("band_sig"))

  /** q62's C4 keep-first, shared with app.CorpusPipeline's span dedup:
    * the rows of `paras` (`idCol`, pidx, para, …) whose paragraph text
    * occurs first in (`idCol`, pidx) order. Unique paragraphs are their
    * own first occurrence, so one window handles both.
    */
  def firstParagraphs(paras: DataFrame, idCol: String): DataFrame =
    paras.withColumn("occ", row_number().over(
        Window.partitionBy("para").orderBy(idCol, "pidx")))
      .where(col("occ") === 1)

  /** Aggregate: a document's kept paragraphs in pidx order, joined by `sep`. */
  def joinParagraphs(sep: String): Column =
    array_join(transform(
      array_sort(collect_list(struct(col("pidx"), col("para")))),
      t => t.getField("para")), sep)

  /** q53's and q53s's oracle: the exact batch×corpus Jaccard ≥ 0.5
    * verdicts both the in-plan sketch and the signature store must hit.
    */
  private val incrementalDedupSql =
    """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
       sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-1,1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles FROM t),
       corpus AS (SELECT * FROM sh WHERE doc_id % 5 != 0),
       batch AS (SELECT * FROM sh WHERE doc_id % 5 = 0),
       hits AS (SELECT b.doc_id AS doc_id, min(c.doc_id) AS dup_of
                FROM batch b JOIN corpus c
                  ON CAST(len(list_intersect(b.shingles, c.shingles)) AS DOUBLE) /
                     CAST(len(list_distinct(list_concat(b.shingles, c.shingles))) AS DOUBLE) >= 0.5
                GROUP BY b.doc_id)
       SELECT d.doc_id,
         CASE WHEN h.dup_of IS NULL THEN 'kept' ELSE 'dup' END AS verdict,
         CAST(h.dup_of AS BIGINT) AS dup_of
       FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
       LEFT JOIN hits h USING (doc_id)
       ORDER BY doc_id"""

  val defs: Seq[Q] = Seq(

    // ---- Token counting (A4 word-count semantics, Python-split parity).
    ("q20_doc_tokens",
      (s, d) => docToks(s, d)
        .select(col("doc_id"),
          size(col("toks")).as("n_toks"),
          size(array_distinct(col("toks"))).as("n_uniq"),
          length(col("text")).as("n_chars_len"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\S+')) AS INT) AS n_toks,
             CAST(len(list_distinct(regexp_extract_all(lower(text), '\S+'))) AS INT) AS n_uniq,
             CAST(length(text) AS INT) AS n_chars_len
             FROM documents ORDER BY doc_id""")),

    // ---- BPE-ish subword counting (GPT-2-style pattern, RE2-safe —
    // no lookahead — so Spark's Java regex and the oracle's RE2 agree):
    // contractions | letter runs | single digits | punct runs.
    ("q19_bpe_tokens",
      (s, d) => tbl(s, d, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(lower(col("text")),
            lit("'(?:[sdmt]|ll|ve|re)|[a-z]+|[0-9]|[^\\sa-z0-9']+"), lit(0))).as("n_bpe"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text),
               '''(?:[sdmt]|ll|ve|re)|[a-z]+|[0-9]|[^\sa-z0-9'']+')) AS INT) AS n_bpe
             FROM documents ORDER BY doc_id""")),

    // ---- Corpus token stats per language.
    ("q21_token_stats",
      (s, d) => docToks(s, d)
        .groupBy("lang")
        .agg(sum(size(col("toks")).cast("long")).as("total_tokens"),
             round(avg(size(col("toks"))), 4).as("avg_tokens"),
             count(lit(1)).as("n_docs"))
        .orderBy("lang"),
      Some("""SELECT lang,
             CAST(sum(len(regexp_extract_all(lower(text), '\S+'))) AS BIGINT) AS total_tokens,
             round(avg(len(regexp_extract_all(lower(text), '\S+'))),4) AS avg_tokens,
             CAST(count(*) AS BIGINT) AS n_docs
             FROM documents GROUP BY 1 ORDER BY 1""")),

    // ---- Exact dedup: hash-groupBy on normalized text (whitespace-run
    // collapse + lowercase), canonical = min doc_id. At scale: one
    // shuffle on the 128-bit digest — the cheapest possible dedup.
    ("q22_dedup_exact",
      (s, d) => tbl(s, d, "documents")
        .withColumn("digest", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
        .groupBy("digest")
        .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_docs"))
        .orderBy("digest"),
      Some("""SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS digest,
             CAST(min(doc_id) AS BIGINT) AS canonical_id,
             CAST(count(*) AS BIGINT) AS n_docs
             FROM documents GROUP BY 1 ORDER BY 1""")),

    // ---- Near-dup, brute-force 3-gram-shingle Jaccard (correctness
    // baseline; O(n²) — the scale path is q24).
    ("q23_neardup_jaccard",
      (s, d) => {
        requireBaselineScale(s, d, "documents", "q23_neardup_jaccard")
        // Shingles hashed to longs (xxhash64, collision odds ~2^-64 at
        // this cardinality) and sorted ONCE per doc, so the per-pair
        // intersection is a zero-allocation codegen'd long merge
        // (graft.plans.SortedIntersectCount) instead of a hash set +
        // materialized array per pair. The oracle computes the same
        // Jaccard over the raw string sets — equality of results is
        // itself the collision check.
        val sh = docToks(s, d)
          .select(col("doc_id"),
            array_sort(transform(shingles3(col("toks")), x => xxhash64(x))).as("shingles"))
        // Non-equi pair join = BroadcastNestedLoopJoin; the streamed side
        // must be repartitioned or a small parquet (1 split) serializes
        // the whole O(n²) compare onto one task.
        val a = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
          .repartition(s.sparkContext.defaultParallelism)
        val b = broadcast(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")))
        // Length-ratio prefilter: J(A,B) ≥ t implies |A| ≥ t·|B| and
        // vice versa, so size-incompatible pairs skip the O(|A|+|B|)
        // merge entirely (cheap int compares run first in the
        // conjunction).
        a.join(b, col("doc_a") < col("doc_b") &&
            size(col("sh_a")) * 2 >= size(col("sh_b")) &&
            size(col("sh_b")) * 2 >= size(col("sh_a")))
          .withColumn("c", call_function("sorted_intersect_count", col("sh_a"), col("sh_b")))
          .withColumn("jaccard",
            col("c").cast("double") /
              (size(col("sh_a")) + size(col("sh_b")) - col("c")).cast("double"))
          .where(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
             sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-1,1)),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles FROM t),
             p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(len(list_intersect(a.shingles,b.shingles)) AS DOUBLE) /
                     CAST(len(list_distinct(list_concat(a.shingles,b.shingles))) AS DOUBLE) AS j
                   FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
             SELECT doc_a, doc_b, round(j,6) AS jaccard FROM p
             WHERE j >= 0.5 ORDER BY doc_a, doc_b""")),

    // ---- MinHash + LSH banding: 16 md5-minhashes over shingles, 4 bands
    // × 4 rows; candidate pairs share a full band signature. This is the
    // dedup operator that survives 100 TB: no all-pairs join, only a
    // group-by on band signatures whose buckets are near-dup clusters.
    ("q24_minhash_lsh",
      (s, d) => {
        Sketch.candidatePairs(md5Bands(shingled(s, d)), "doc_id", "doc_a", "doc_b")
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
             shl AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-1,1)),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles FROM t),
             tok AS (SELECT doc_id, unnest(shingles) AS tok FROM shl WHERE len(shingles) > 0),
             mh AS (SELECT doc_id, s.seed, min(md5(s.seed || ':' || tok)) AS minh
                    FROM tok CROSS JOIN (SELECT unnest(range(16)) AS seed) s
                    GROUP BY doc_id, s.seed),
             band AS (SELECT doc_id, seed // 4 AS band_id,
                        string_agg(minh, ',' ORDER BY seed) AS band_sig
                      FROM mh GROUP BY doc_id, seed // 4)
             SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM band a JOIN band b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
               AND a.doc_id < b.doc_id
             ORDER BY doc_a, doc_b""")),

    // ---- PRODUCTION MinHash+LSH near-dup: same banding scheme as q24
    // but with xxhash64-seeded minhashes (one 64-bit mix per shingle per
    // seed) instead of md5 (md5 is pinned in q24 only because it is the
    // one hash both engines share — a production corpus pays ~10× less
    // CPU here). Candidates are verified with the codegen'd sorted-merge
    // intersection (as q23), so the output is exact Jaccard ≥ 0.5 PAIRS
    // — which makes the strongest possible oracle available: the DuckDB
    // exact all-pairs set. A green hash on this row IS a measured 100%
    // recall/precision claim for the production hash family.
    // The signature table is localCheckpoint-materialized once (at
    // cluster scale: a staging table) so the shingle pipeline runs once,
    // not once per downstream branch.
    ("q24p_minhash_prod",
      (s, d) => {
        // 8 bands × 2 rows (vs q24's 4×4): the banding S-curve midpoint
        // moves from J≈0.66 down to J≈0.29, so recall AT the 0.5
        // decision threshold is ~90% per pair and ≥1-2e-6 for the
        // J≥0.9 near-dups this corpus plants — the 4×4 curve misses a
        // J=0.9 pair with ~1.4% probability, which is the wrong trade
        // when candidates are verified exactly anyway. Sketch + banding
        // + verify live in queries.Sketch (shared with q53,
        // CorpusPipeline and the streaming incremental dedup).
        val enriched = Sketch.sketch(tbl(s, d, "documents")).localCheckpoint()
        Sketch.nearDupPairs(enriched, Sketch.bandRows(enriched), "doc_id", "doc_a", "doc_b")
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
             sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-1,1)),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles FROM t),
             p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(len(list_intersect(a.shingles,b.shingles)) AS DOUBLE) /
                     CAST(len(list_distinct(list_concat(a.shingles,b.shingles))) AS DOUBLE) AS j
                   FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
             SELECT doc_a, doc_b FROM p WHERE j >= 0.5 ORDER BY doc_a, doc_b""")),

    // ---- Incremental near-dup dedup: an ARRIVING BATCH (doc_id % 5 ==
    // 0, a deterministic 20% slice standing in for today's crawl) is
    // deduplicated against the EXISTING CORPUS (the other 80%) — the
    // operation a training-data pipeline runs on every ingest. Same
    // sketch as q24p (xxhash64 minhashes, 8 bands × 2 rows) but the
    // band join is batch×corpus only: corpus×corpus pairs are never
    // formed. Candidates are verified with exact Jaccard, so the DuckDB
    // oracle is the exact batch×corpus pair set — a green row is a
    // measured 100%-recall claim for the incremental path.
    // At 10^12 scale the corpus side of this join is a PRECOMPUTED
    // signature table (written once by the corpus dedup run); only the
    // arriving batch is sketched fresh, and the band join's corpus side
    // streams — per-ingest cost is O(batch), not O(corpus).
    ("q53_incremental_dedup",
      (s, d) => {
        val hashed = Sketch.withBands(Sketch.sketch(tbl(s, d, "documents")).localCheckpoint())
        val matches = Sketch.storeMatches(
          hashed.where(col("doc_id") % 5 === 0), hashed.where(col("doc_id") % 5 =!= 0))
        // Every batch doc gets a verdict — including short docs the
        // shingle precondition filtered out (no shingles → trivially kept).
        Sketch.verdicts(tbl(s, d, "documents").where(col("doc_id") % 5 === 0), matches)
          .orderBy("doc_id")
      },
      Some(incrementalDedupSql)),

    // ---- q53 through the PERSISTENT signature store (the production
    // shape): the corpus half is written as a sketch table
    // (queries.SignatureStore — the exact layout the streaming near-dup
    // path persists), read back as precomputed (hsh, bands) rows, and
    // only the arriving batch is sketched in the plan. Same oracle as
    // q53 — a green row proves the store round-trip loses nothing vs
    // the in-plan staging variant. Each call writes its own store into
    // a fresh session scratch dir.
    ("q53s_dedup_store",
      (s, d) => {
        val dir = scratchDir(s, "q53s_store")
        SignatureStore.write(
          tbl(s, d, "documents").where(col("doc_id") % 5 =!= 0)
            .select("doc_id", "text"), dir, 0L)
        SignatureStore.verdictsAgainst(
            tbl(s, d, "documents").where(col("doc_id") % 5 === 0)
              .select("doc_id", "text"),
            SignatureStore.read(s, dir))
          .orderBy("doc_id")
      },
      Some(incrementalDedupSql)),

    // ---- Paragraph-span dedup (the C4 "discard all but one of any
    // span occurring more than once" pass, at paragraph granularity).
    // The corpus text is single-line, so paragraph breaks are derived
    // deterministically in BOTH engines: tokens grouped in runs of 10
    // (last run partial); firstParagraphs keeps each paragraph's first
    // occurrence. Output pins the per-doc kept-count AND the md5 of the
    // reassembled text, so the green hash proves span selection
    // byte-exactly. Scale shape: one explode + one window shuffle keyed
    // on the paragraph (at 10^12 rows: hash the paragraph to 128 bits
    // first so the shuffle carries digests, not text — same plan), one
    // group-by doc.
    ("q62_span_dedup",
      (s, d) => {
        val t = tbl(s, d, "documents")
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
        // paras feeds both the keep-first window and the per-doc total:
        // materialize once so the paragraph explode runs once per plan.
        val paras = t.select(col("doc_id"),
            posexplode(transform(
              sequence(lit(0), ((size(col("toks")) + 9) / 10).cast("int") - 1),
              g => array_join(slice(col("toks"), g * 10 + 1, lit(10)), " ")))
              .as(Seq("pidx", "para")))
          .localCheckpoint()
        val kept = firstParagraphs(paras, "doc_id")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"), md5(joinParagraphs(" ")).as("clean_digest"))
        paras.groupBy("doc_id").agg(count(lit(1)).as("n_paras"))
          .join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_paras"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("clean_digest"), md5(lit(""))).as("clean_digest"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
             paras AS (SELECT doc_id, g AS pidx,
                         array_to_string(toks[g*10+1 : g*10+10], ' ') AS para
                       FROM t, unnest(range(0, (len(toks) + 9) // 10)) AS u(g)),
             occ AS (SELECT doc_id, pidx, para,
                       row_number() OVER (PARTITION BY para ORDER BY doc_id, pidx) AS occ
                     FROM paras),
             kept AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                        md5(string_agg(para, ' ' ORDER BY pidx)) AS clean_digest
                      FROM occ WHERE occ = 1 GROUP BY doc_id),
             tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras FROM paras GROUP BY 1)
             SELECT tot.doc_id, tot.n_paras,
               coalesce(kept.n_kept, 0) AS n_kept,
               coalesce(kept.clean_digest, md5('')) AS clean_digest
             FROM tot LEFT JOIN kept USING (doc_id) ORDER BY doc_id""")),

    // ---- Bloom-prefiltered incremental exact dedup: the arriving batch
    // (doc_id % 5 == 0, as in q53) is deduplicated against the corpus on
    // a leading-text digest (md5 of the first 16 lowercased tokens — the
    // newswire-republication key: syndicated copies share their lede
    // even when trailing boilerplate differs). The corpus side is
    // summarized into a BLOOM FILTER built distributed in one partial
    // aggregate (Spark's native BloomFilterAggregate, exposed as
    // graft_bloom_agg — codegen probe, no UDF); the batch probes it
    // map-side and only the ~hit fraction reaches the verify join, whose
    // exact digest match removes bloom false positives. Output is
    // therefore EXACT — the oracle is the plain semi-join, independent
    // of bloom internals — and a green row proves the prefilter dropped
    // no true duplicate (bloom filters have no false negatives; the spec
    // additionally pins candidates ⊇ hits).
    // 100 TB shape: the per-ingest cost is one broadcast-size bloom
    // (1.2 MB per 10^6 corpus keys at 1% fpp — fine to ~10^9 keys;
    // beyond that shard the filter by digest prefix and probe the
    // matching shard) plus a join whose corpus side is pre-filtered to
    // batch-hit digests. Unique-batch rows — the overwhelming majority
    // on a real crawl — never shuffle at all.
    ("q71_bloom_dedup",
      (s, d) => {
        val keyed = tbl(s, d, "documents")
          .select(col("doc_id"),
            md5(array_join(slice(tokens(col("text")), 1, 16), " ")).as("k"))
        val corpus = keyed.where(col("doc_id") % 5 =!= 0)
        val batch = keyed.where(col("doc_id") % 5 === 0)
        val bloomBytes = corpus
          .agg(call_function("graft_bloom_agg", xxhash64(col("k")), lit(1000000L)).as("bf"))
          .head.getAs[Array[Byte]](0)
        val candidates = batch.where(
          call_function("graft_might_contain", lit(bloomBytes), xxhash64(col("k"))))
        val hits = candidates
          .join(corpus.groupBy("k").agg(min("doc_id").as("dup_of")), "k")
          .select(col("doc_id"), col("dup_of"))
        batch.select("doc_id").join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("dup_of").isNull, "kept").otherwise("dup").as("verdict"),
            col("dup_of"))
          .orderBy("doc_id")
      },
      Some("""WITH k AS (SELECT doc_id,
               md5(array_to_string((regexp_extract_all(lower(text), '\S+'))[1:16], ' ')) AS k
             FROM documents),
             corpus AS (SELECT k, min(doc_id) AS dup_of
                        FROM k WHERE doc_id % 5 != 0 GROUP BY 1),
             b AS (SELECT doc_id, k FROM k WHERE doc_id % 5 = 0)
             SELECT b.doc_id,
               CASE WHEN c.dup_of IS NULL THEN 'kept' ELSE 'dup' END AS verdict,
               CAST(c.dup_of AS BIGINT) AS dup_of
             FROM b LEFT JOIN corpus c ON b.k = c.k
             ORDER BY b.doc_id""")),

    // ---- The complete near-dup dedup pipeline: MinHash-LSH candidate
    // generation → exact-Jaccard verification (only on candidates — the
    // O(n²) compare never happens) → connected-components clustering by
    // iterative smallest-label propagation (QueryUtil.connectedComponents:
    // O(cluster diameter) rounds, capped at maxIters = 1000 by a
    // require; an O(log n)-round form is ROADMAP direction 3).
    // cluster_id = min doc_id of the component = the canonical
    // document to keep.
    ("q35_dup_clusters",
      (s, d) => {
        // q24's candidates, verified on the string shingle sets the
        // oracle mirrors.
        val sh = shingled(s, d)
        val verified = Sketch.candidatePairs(md5Bands(sh), "doc_id", "doc_a", "doc_b")
          .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
          .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
          .where(jaccard(col("sh_a"), col("sh_b")) >= Sketch.Threshold)
          .select("doc_a", "doc_b")
        // Run-to-convergence min-label propagation: the shared
        // QueryUtil.connectedComponents core (localCheckpoint-truncated
        // lineage, loud runaway cap — rationale documented there).
        connectedComponents(verified)
          .select(col("node").as("doc_id"), col("label").as("cluster_id"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
             shl AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks)-1,1)),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles FROM t),
             tok AS (SELECT doc_id, unnest(shingles) AS tok FROM shl WHERE len(shingles) > 0),
             mh AS (SELECT doc_id, s.seed, min(md5(s.seed || ':' || tok)) AS minh
                    FROM tok CROSS JOIN (SELECT unnest(range(16)) AS seed) s
                    GROUP BY doc_id, s.seed),
             band AS (SELECT doc_id, seed // 4 AS band_id,
                        string_agg(minh, ',' ORDER BY seed) AS band_sig
                      FROM mh GROUP BY doc_id, seed // 4),
             cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                      FROM band a JOIN band b ON a.band_id = b.band_id
                        AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
             verified AS (SELECT c.doc_a, c.doc_b FROM cand c
                          JOIN shl x ON x.doc_id = c.doc_a
                          JOIN shl y ON y.doc_id = c.doc_b
                          WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
                                CAST(len(list_distinct(list_concat(x.shingles, y.shingles))) AS DOUBLE) >= 0.5),
             edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
                       UNION SELECT doc_b, doc_a FROM verified),
             nodes AS (SELECT DISTINCT a AS doc FROM edges),
             walk(doc, r) AS (
               SELECT doc, doc FROM nodes
               UNION
               SELECT e.b, w.r FROM walk w JOIN edges e ON e.a = w.doc
             )
             SELECT CAST(doc AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
             FROM walk GROUP BY doc ORDER BY doc_id""")),

    // ---- SimHash document fingerprint: 32-bit signature from md5
    // hex-digit parity of distinct tokens. Near-constant cost per doc;
    // Hamming-ball lookup is the at-scale near-dup join key.
    ("q25_simhash",
      (s, d) => {
        // Single-pass codegen'd sketch (plans.SimhashMd5): md5 once per
        // distinct token, all 32 parity counters updated in that same
        // pass — replaces 32 `aggregate` passes over an md5-hex array
        // (equality property-tested in HashSketchSpec).
        docToks(s, d)
          .withColumn("simhash",
            call_function("simhash_md5", array_distinct(col("toks"))))
          .select("doc_id", "simhash")
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '\S+'))) AS tok
                           FROM documents),
             bits AS (SELECT doc_id, j.j,
                        CASE WHEN sum(CASE WHEN ascii(substr(md5(tok), j.j, 1)) % 2 = 1
                                           THEN 1 ELSE -1 END) > 0
                             THEN '1' ELSE '0' END AS bit
                      FROM tok CROSS JOIN (SELECT unnest(range(1,33)) AS j) j
                      GROUP BY doc_id, j.j)
             SELECT doc_id, string_agg(bit, '' ORDER BY j) AS simhash
             FROM bits GROUP BY doc_id ORDER BY doc_id""")),

    // ---- SimHash Hamming-ball near-dup JOIN (consumes q25's
    // fingerprints — the third dedup family closed end-to-end next to
    // MinHash-LSH q24 and exact q22): find all pairs within Hamming
    // distance ≤ 1 by splitting the 32-bit signature into 2 exact-match
    // bands of 16 bits. Pigeonhole: ≤1 differing bit can dirty at most
    // one band, so every qualifying pair shares a band — the bucketed
    // self-join is COMPLETE, not approximate; candidates are then
    // verified with bit_count(xor). Radius 1 because this corpus
    // saturates 32-bit simhash (~31 distinct words/doc over a shared
    // vocabulary → thousands of identical signatures); a production
    // crawl uses 64-bit simhash and radius 3 — same plan shape, but
    // with the band keys WIDENED so buckets stay small at corpus scale
    // (fixed 16-bit keys mean ~n/65536 docs per bucket; the standard
    // fix is Manku et al. WWW'07's permuted-prefix tables keyed on
    // 30-40 bits, which this query's band column swaps in without
    // changing the join). Scale: the only shuffles carry (band_id,
    // band value, doc_id, sig); buckets are band-local so no all-pairs
    // work; output is the per-doc neighbor roll-up (count/min/max pins
    // the pair set through three independent aggregates).
    ("q73_simhash_hamming",
      (s, d) => {
        val sig = docToks(s, d)
          .withColumn("sig",
            call_function("simhash_md5", array_distinct(col("toks"))))
          .withColumn("sigv", conv(col("sig"), 2, 10).cast("long"))
          .select("doc_id", "sig", "sigv")
        val bands = sig.select(col("doc_id"), col("sigv"), explode(array(
            struct(lit(0).as("band_id"), substring(col("sig"), 1, 16).as("band_val")),
            struct(lit(1).as("band_id"), substring(col("sig"), 17, 16).as("band_val"))
          )).as("b"))
          .select(col("doc_id"), col("sigv"), col("b.band_id"), col("b.band_val"))
        val a = bands.toDF("doc_a", "sig_a", "band_id", "band_val")
        val b = bands.toDF("doc_b", "sig_b", "band_id", "band_val")
        val pairs = a.join(b, Seq("band_id", "band_val"))
          .where(col("doc_a") > col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("ham"))
          .where(col("ham") <= 1)
          .distinct() // a pair may agree on both bands
        val edges = pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("nb"))
          .union(pairs.select(col("doc_b").as("doc_id"), col("doc_a").as("nb")))
        val stats = edges.groupBy("doc_id")
          .agg(count(lit(1)).as("n_neighbors"),
               min("nb").as("min_nb"), max("nb").as("max_nb"))
        QueryUtil.tbl(s, d, "documents").select("doc_id")
          .join(stats, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
            coalesce(col("min_nb"), lit(-1L)).as("min_nb"),
            coalesce(col("max_nb"), lit(-1L)).as("max_nb"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '\S+'))) AS tok
                           FROM documents),
             bits AS (SELECT doc_id, j.j,
                        CASE WHEN sum(CASE WHEN ascii(substr(md5(tok), j.j, 1)) % 2 = 1
                                           THEN 1 ELSE -1 END) > 0
                             THEN '1' ELSE '0' END AS bit
                      FROM tok CROSS JOIN (SELECT unnest(range(1,33)) AS j) j
                      GROUP BY doc_id, j.j),
             sig AS (SELECT doc_id, string_agg(bit, '' ORDER BY j) AS s
                     FROM bits GROUP BY doc_id),
             bd AS (SELECT doc_id, s, 0 AS band_id, substr(s, 1, 16) AS band_val FROM sig
                    UNION ALL
                    SELECT doc_id, s, 1, substr(s, 17, 16) FROM sig),
             pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.s AS sa, y.s AS sb
                       FROM bd x JOIN bd y
                         ON x.band_id = y.band_id AND x.band_val = y.band_val
                        AND x.doc_id > y.doc_id),
             p AS (SELECT doc_a, doc_b FROM pairs
                   WHERE len([i FOR i IN range(1,33)
                              IF substr(sa, CAST(i AS INT), 1) <> substr(sb, CAST(i AS INT), 1)]) <= 1),
             e AS (SELECT doc_a AS doc_id, doc_b AS nb FROM p
                   UNION ALL SELECT doc_b, doc_a FROM p),
             st AS (SELECT doc_id, count(*) AS n, min(nb) AS mn, max(nb) AS mx
                    FROM e GROUP BY doc_id)
             SELECT d.doc_id,
                    CAST(coalesce(st.n, 0) AS BIGINT) AS n_neighbors,
                    CAST(coalesce(st.mn, -1) AS BIGINT) AS min_nb,
                    CAST(coalesce(st.mx, -1) AS BIGINT) AS max_nb
             FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
             ORDER BY d.doc_id""")),

    // ---- Language ID: stopword-hit scoring with a fixed argmax order
    // (n-gram-heuristic family; deterministic on both engines).
    ("q26_lang_id",
      (s, d) => {
        def hits(pat: String) =
          size(regexp_extract_all(lower(col("text")), lit(pat), lit(0)))
        tbl(s, d, "documents")
          .withColumn("s_en", hits("\\b(the|and|of|to|a)\\b"))
          .withColumn("s_de", hits("\\b(der|die|und|das|ist)\\b"))
          .withColumn("s_fr", hits("\\b(le|la|et|les|des)\\b"))
          .withColumn("s_es", hits("\\b(el|los|las|una|es)\\b"))
          .withColumn("predicted",
            when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
                 col("s_en") >= col("s_es") && col("s_en") > 0, "en")
              .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es") &&
                    col("s_de") > 0, "de")
              .when(col("s_fr") >= col("s_es") && col("s_fr") > 0, "fr")
              .when(col("s_es") > 0, "es")
              .otherwise("unknown"))
          .groupBy("lang", "predicted")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "predicted")
      },
      Some("""WITH s AS (SELECT doc_id, lang,
               len(regexp_extract_all(lower(text), '\b(the|and|of|to|a)\b')) AS s_en,
               len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS s_de,
               len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS s_fr,
               len(regexp_extract_all(lower(text), '\b(el|los|las|una|es)\b')) AS s_es
             FROM documents)
             SELECT lang, CASE
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
               WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
               WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
               WHEN s_es > 0 THEN 'es'
               ELSE 'unknown' END AS predicted,
             CAST(count(*) AS BIGINT) AS n
             FROM s GROUP BY 1,2 ORDER BY 1,2""")),

    // ---- Quality scoring: uniqueness ratio + length saturation →
    // bucket (reference quality-level analog for corpus filtering).
    ("q27_quality_score",
      (s, d) => docToks(s, d)
        .withColumn("n_toks", size(col("toks")))
        .withColumn("uniq_ratio",
          size(array_distinct(col("toks"))).cast("double") / col("n_toks").cast("double"))
        .withColumn("score",
          round(lit(0.4) * col("uniq_ratio") +
                lit(0.6) * least(col("n_toks").cast("double") / lit(100.0), lit(1.0)), 6))
        .withColumn("bucket",
          when(col("score") >= 0.6, "high").when(col("score") >= 0.4, "mid").otherwise("low"))
        .select(col("doc_id"), col("n_toks"), round(col("uniq_ratio"), 6).as("uniq_ratio"),
          col("score"), col("bucket"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
             q AS (SELECT doc_id, len(toks) AS n_toks,
                     CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS uniq_ratio
                   FROM t),
             sc AS (SELECT doc_id, n_toks, uniq_ratio,
                      round(0.4 * uniq_ratio + 0.6 * least(CAST(n_toks AS DOUBLE) / 100.0, 1.0), 6) AS score
                    FROM q)
             SELECT doc_id, CAST(n_toks AS INT) AS n_toks, round(uniq_ratio,6) AS uniq_ratio, score,
               CASE WHEN score >= 0.6 THEN 'high' WHEN score >= 0.4 THEN 'mid' ELSE 'low' END AS bucket
             FROM sc ORDER BY doc_id""")),

    // ---- Multimodal metadata pass: payload treated as opaque bytes →
    // (byte length, content digest, length-derived dimensions). The real
    // binary kernel lives in PipelineOps.x46; this is its SQL-checkable
    // projection.
    ("q28_multimodal_meta",
      (s, d) => tbl(s, d, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          md5(col("text")).as("digest"),
          (octet_length(col("text")) % 640 + 1).as("width"),
          (floor(octet_length(col("text")) / lit(7)).cast("int") % 480 + 1).as("height"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             CAST(octet_length(encode(text)) AS INT) AS n_bytes,
             md5(text) AS digest,
             CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
             CAST((octet_length(encode(text)) // 7) % 480 + 1 AS INT) AS height
             FROM documents ORDER BY doc_id""")),

    // ---- Containment dedup: detects a SMALL document embedded in a
    // big one (quotes, syndicated excerpts, boilerplate-wrapped
    // copies) — the case Jaccard-based dedup (q23/q24) structurally
    // misses, because |A∩B|/|A∪B| vanishes as the host grows while
    // containment |A∩B|/min(|A|,|B|) stays 1.0. Inputs are planted
    // from doc_id (q44/q54 precedent): every 37th document contributes
    // a 25-token excerpt as a synthetic quote doc. Shape is the
    // inverted-index pair join — one shuffle on the shingle key, NO
    // all-pairs compare: candidate volume is Σ_g df(g)², bounded by
    // the df-cap (df ≤ 50) that drops stop-shingles first — the
    // standard prefix-filter step, mirrored in the oracle. Sizes are
    // computed AFTER the cap on both sides, so a true subset still
    // scores containment 1.0 even when some of its shingles were
    // capped away.
    ("q87_containment_dedup",
      (s, d) => {
        val base = tbl(s, d, "documents").select(col("doc_id"), col("text"))
        val snippets = base.where(col("doc_id") % 37 === 0)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"),
            array_join(slice(tokens(col("text")), 1, 25), " ").as("text"))
        val sh = base.unionByName(snippets)
          .withColumn("toks", tokens(col("text")))
          .select(col("doc_id"), explode_outer(shingles3(col("toks"))).as("g"))
          .where(col("g").isNotNull)
          .localCheckpoint() // feeds df-cap AND both pair-join sides
        val keepG = sh.groupBy("g").agg(count(lit(1)).as("df"))
          .where(col("df") <= 50).select("g")
        val shf = sh.join(keepG, "g").localCheckpoint()
        val sizes = shf.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val pairs = shf.select(col("doc_id").as("doc_a"), col("g"))
          .join(shf.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
          .where(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
        pairs
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
          .withColumn("containment",
            col("inter").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
          .where(col("containment") >= 0.9)
          .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("inter"),
            round(col("containment"), 6).as("containment"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
             snip AS (SELECT doc_id + 1000000 AS doc_id,
                 array_to_string((regexp_extract_all(lower(text), '\S+'))[1:25], ' ') AS text
               FROM base WHERE doc_id % 37 = 0),
             ad AS (SELECT * FROM base UNION ALL SELECT * FROM snip),
             t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM ad),
             sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN
                     list_distinct(list_transform(range(1, greatest(len(toks)-1,1)),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                   ELSE [] END) AS g FROM t),
             keep AS (SELECT g FROM sh GROUP BY g HAVING count(*) <= 50),
             shf AS (SELECT sh.doc_id, sh.g FROM sh JOIN keep USING (g)),
             sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY 1),
             pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                       FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id
                       GROUP BY 1, 2),
             c AS (SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b, inter,
                     CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS containment
                   FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
                              JOIN sizes sb ON doc_b = sb.doc_id)
             SELECT doc_a, doc_b, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               CAST(inter AS BIGINT) AS inter, round(containment, 6) AS containment
             FROM c WHERE containment >= 0.9 ORDER BY doc_a, doc_b"""))
  )
}
