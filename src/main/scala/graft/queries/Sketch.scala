package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import QueryUtil._

/** The one near-dup engine: the production MinHash sketch, the LSH band
  * join, the exact-Jaccard verify and the decision threshold.
  *
  * The sketch is 16 xxhash64-seeded minhashes over distinct word-3-gram
  * shingles, banded 8×2 with the band signature compacted to one 64-bit
  * key (the S-curve midpoint of 8×2 sits at J≈0.29, so recall at the
  * 0.5 decision threshold is high and the exact-Jaccard verify removes
  * every false candidate — the rationale measured in BENCH.md
  * "Scale-path quality").
  *
  * This module owns the near-dup policy: join on (band_id, band_sig),
  * keep id-ordered pairs, `distinct`, verify with exact Jaccard ≥
  * `Threshold`. Callers pick the id column and materialize their own
  * sketch (localCheckpoint or a SignatureStore read):
  *  - `candidatePairs`: q24 and q35 (md5 family, TextOps), plus every
  *    `nearDupPairs` call;
  *  - `nearDupPairs`: q24p, app.CorpusPipeline's near-dup stage (keyed
  *    by url) and the within-batch half of
  *    streaming.StreamingExtract.nearDedupBatch;
  *  - `storeMatches`: q53, SignatureStore.verdictsAgainst (q53s) and
  *    the store half of nearDedupBatch;
  *  - `verdicts`: q53 and SignatureStore.verdictsAgainst.
  * q35 verifies its md5 candidates with the string-shingle
  * QueryUtil.jaccard its oracle mirrors, against the same `Threshold`.
  *
  * All expressions are codegen'd column functions — changing them here
  * changes q24p/q53, whose DuckDB oracles (exact all-pairs Jaccard)
  * re-measure the hash family's recall on every driver run.
  */
object Sketch {

  val NumHashes = 16
  val Bands = 8
  /** Near-dup iff exact shingle-set Jaccard ≥ this; the DuckDB oracles
    * pin the same value.
    */
  val Threshold = 0.5

  /** Cheap precondition equivalent to "has ≥1 shingle" (≥3 tokens),
    * deliberately NOT `size(shingles) > 0`: a pushed-down filter on the
    * derived column would inline the whole shingle pipeline into the
    * scan filter and evaluate it twice (the q24/q60 plan pathology).
    */
  val hasShingles: Column = col("text").rlike("\\S+\\s+\\S+\\s+\\S+")

  /** doc_id → (hsh: sorted distinct shingle hashes — the exact-verify
    * input; sigs: the 16 minhashes). Callers materialize the result
    * (localCheckpoint / a signature table) so the shingle pipeline runs
    * once per document ever.
    */
  def sketch(docs: DataFrame, idCol: String = "doc_id"): DataFrame = docs
    .where(hasShingles)
    .withColumn("toks", tokens(col("text")))
    .select(col(idCol), shingles3(col("toks")).as("shingles"))
    .select(col(idCol),
      array_sort(transform(col("shingles"), x => xxhash64(x))).as("hsh"),
      transform(sequence(lit(0), lit(NumHashes - 1)),
        j => array_min(transform(col("shingles"), t => xxhash64(j, t)))).as("sigs"))

  /** The 8 compact band signatures of a `sigs` minhash array, as an
    * array column (each = 64-bit hash of that band's 2 minhashes) —
    * precomputable once and STORED, so a signature table never re-pays
    * the banding hash work on the read side.
    */
  def bandSigs(sigs: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)),
      b => xxhash64(b, concat_ws(",", slice(sigs, b * 2 + 1, lit(2)))))

  /** Sketch rows plus their stored-form `bands` column. */
  def withBands(sk: DataFrame): DataFrame = sk.withColumn("bands", bandSigs(col("sigs")))

  /** Sketch rows → (doc_id, band_id, band_sig) — the LSH join key rows.
    * The shuffle carries 8 bytes of signature per (doc, band).
    */
  def bandRows(df: DataFrame, idCol: String = "doc_id"): DataFrame =
    explodeBands(df.select(col(idCol), bandSigs(col("sigs")).as("bands")), idCol)

  /** (doc_id, bands) rows with PRECOMPUTED band signatures → the same
    * (doc_id, band_id, band_sig) join rows as `bandRows`, no hashing.
    */
  def explodeBands(df: DataFrame, idCol: String = "doc_id"): DataFrame = df
    .select(col(idCol), posexplode(col("bands")).as(Seq("band_id", "band_sig")))

  /** Exact Jaccard of two sorted shingle-hash arrays via the codegen'd
    * sorted-merge intersection (`sorted_intersect_count`, which
    * `SparkUtil.session` installs). Single IEEE division — bit-identical
    * across engines.
    */
  def jaccard(ha: Column, hb: Column): Column = {
    val c = call_function("sorted_intersect_count", ha, hb)
    c.cast("double") / (size(ha) + size(hb) - c).cast("double")
  }

  /** The LSH self band join: distinct candidate pairs (a, b), a < b, of
    * the band rows (idCol, band_id, band_sig), any band family.
    */
  def candidatePairs(bands: DataFrame, idCol: String, a: String, b: String): DataFrame =
    bandJoin(bands, bands, idCol, a, b)
      .where(col(a) < col(b))
      .select(a, b).distinct()

  /** Verified near-dup pairs (a, b), a < b, within one sketch table `sk`
    * (idCol, hsh): `candidatePairs` over its band rows `bands`, kept
    * where the exact Jaccard reaches `Threshold`.
    */
  def nearDupPairs(sk: DataFrame, bands: DataFrame, idCol: String,
      a: String, b: String): DataFrame =
    verified(candidatePairs(bands, idCol, a, b), sk, sk, idCol, "sh_a", "sh_b")
      .select(a, b)

  /** Verified near-dup pairs (c_id, b_id): store doc c_id matches batch
    * doc b_id. `batch` and `store` are (doc_id, hsh, bands) rows with
    * precomputed band signatures; only batch×store candidates are
    * formed, never store×store.
    */
  def storeMatches(batch: DataFrame, store: DataFrame): DataFrame = {
    val cand = bandJoin(explodeBands(batch.select("doc_id", "bands")),
        explodeBands(store.select("doc_id", "bands")), "doc_id", "b_id", "c_id")
      .select("b_id", "c_id").distinct()
    verified(cand, batch, store, "doc_id", "h_b", "h_c").select("c_id", "b_id")
  }

  /** Every doc_id of `docs` → (doc_id, verdict, dup_of): `dup` with
    * dup_of = the least matching c_id of `storeMatches`, else `kept`
    * (docs too short to sketch never match, so they are kept).
    */
  def verdicts(docs: DataFrame, matches: DataFrame): DataFrame =
    docs.select("doc_id")
      .join(matches.groupBy("b_id").agg(min("c_id").as("dup_of"))
        .withColumnRenamed("b_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNull, "kept").otherwise("dup").as("verdict"),
        col("dup_of"))

  private def bandJoin(left: DataFrame, right: DataFrame, idCol: String,
      a: String, b: String): DataFrame =
    left.withColumnRenamed(idCol, a).hint("shuffle_hash")
      .join(right.withColumnRenamed(idCol, b), Seq("band_id", "band_sig"))

  /** Candidate pairs (a, b) whose `hsh` arrays — a's from `left`, b's
    * from `right`, joined as `ha`/`hb` — reach `Threshold`; output
    * columns (b, a, ha, hb).
    */
  private def verified(cand: DataFrame, left: DataFrame, right: DataFrame,
      idCol: String, ha: String, hb: String): DataFrame = {
    val Array(a, b) = cand.columns
    cand
      .join(left.select(col(idCol).as(a), col("hsh").as(ha)), Seq(a))
      .join(right.select(col(idCol).as(b), col("hsh").as(hb)), Seq(b))
      .where(jaccard(col(ha), col(hb)) >= Threshold)
  }
}
