package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryUtil._

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>`, dim 64). Dot products / norms run as codegen'd
  * higher-order functions (`zip_with` + `aggregate`) in DOUBLE precision
  * — matching the oracle's math and keeping everything inside
  * whole-stage codegen; no UDFs.
  *
  * Scale shape:
  *  - q29 broadcast-joins the tiny query set against the full corpus —
  *    the classic brute-force ANN baseline: one scan, no corpus shuffle,
  *    per-partition top-k via window (at true scale: `mapPartitions`
  *    heap + final merge; the window form is Catalyst-visible and
  *    equivalent here).
  *  - q31 is the all-pairs verifier (correctness baseline, O(n²)); the
  *    at-scale path is LSH bucketing (q30): 8 deterministic md5-derived
  *    hyperplanes → 8-bit bucket key → pairs only within a bucket.
  */
object VectorOps {

  type Q = (String, (SparkSession, String) => DataFrame, Option[String])

  /** embedding cast to array<double> with its norm precomputed ONCE per
    * vector — the pair joins below would otherwise recompute both norms
    * for every one of the O(n²) pairs. All math in double on both
    * engines.
    */
  private[graft] def emb(s: SparkSession, d: String): DataFrame = {
    tbl(s, d, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(call_function("vector_dot", col("v"), col("v"))))
  }

  /** Codegen'd indexed dot product (graft.plans.VectorDot) — no zipped
    * array materialized per pair.
    */
  private def dot(a: String, b: String) =
    call_function("vector_dot", col(a), col(b))

  /** The md5-derived deterministic hyperplane family SHARED by q30
    * (bucket keys) and q74/q74p/q30p (banded near-dup): weight for
    * (plane p, dim i) = first md5 hex digit of "p:i" (ascii % 16)
    * minus 7.5. Computed ONCE driver-side and shipped as a literal
    * matrix — the round-4 formulation evaluated planes×dim md5 hashes
    * PER ROW inside codegen (pure constant work; it dominated the
    * signature stage and made q74 the slowest bench query). Spark's
    * `md5()` and DuckDB's `md5()` emit the same lowercase hex, so the
    * family — and every oracle, which still derives it in SQL — is
    * unchanged bit-for-bit. FP caveat, shared with the oracles: the
    * Spark fold is sequential while DuckDB's grouped sum order is
    * unspecified, so a projection within float-epsilon of 0 could band
    * differently cross-engine — with these integer-derived weights and
    * 64 dims the projections sit far from 0, and four rounds of green
    * q30 rows pin that empirically.
    */
  private[graft] def planeWeight(p: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$i".getBytes("UTF-8"))
    val c = "0123456789abcdef".charAt((d(0) >> 4) & 0xf)
    (c.toInt % 16) - 7.5
  }

  /** planes×dim literal weight matrix (1-indexed via element_at). */
  private def weightMatrix(planes: Int, dim: Int): Column =
    typedLit((0 until planes).map(p => (0 until dim).map(i => planeWeight(p, i))))

  /** Sign bit ('1'/'0') of dot(v, row p of weight matrix w). Same
    * left-fold order as the round-4 per-row-md5 form, so the produced
    * bits are bit-identical.
    */
  private def hyperplaneBit(w: Column, p: Column, v: Column): Column =
    when(aggregate(zip_with(v, element_at(w, (p + 1).cast("int")),
        (x, wi) => x * wi),
      lit(0.0), (acc, x) => acc + x) > 0, lit("1")).otherwise(lit("0"))

  /** Leading dimension of the embeddings table (one-row probe; the
    * weight matrix must be built to the corpus's true dim). 0 on an
    * empty table — the banded queries then carry a 0×planes matrix and
    * lazily produce their correct empty result instead of throwing at
    * DataFrame-construction time.
    */
  private def embDim(s: SparkSession, d: String): Int =
    tbl(s, d, "embeddings").select(size(col("embedding"))).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)

  /** Corpus-size-parameterized band width for hyperplane-LSH banding:
    * the smallest b in [4,16] with n ≤ 32·2^b, i.e. expected bucket
    * occupancy ≤ 32 vectors per band. Pure integer ladder (no log2 FP
    * boundary risk cross-engine); `bandBitsSql` is its verbatim SQL
    * mirror. 4 bits at the 500-vector test SF, 16 bits from ~1M vectors
    * up — at the 10^12 design point every band key is 16 bits and
    * candidate volume tracks corpus size instead of exploding O(n²/16)
    * the way a fixed 4-bit key would.
    */
  private[graft] def bandBits(n: Long): Int = {
    var b = 4
    while (b < 16 && n > (32L << b)) b += 1
    b
  }

  private val bandBitsSql: String =
    (4 to 15).map(b => s"WHEN n <= ${32L << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 16 END")

  /** Banded hyperplane-LSH near-dup pairs — the shared engine of q74
    * (fixed 4×4 small-corpus banding), q74p (corpus-size-parameterized
    * band width) and q30p (OR-ed 8-bit tables; OR-amplification over L
    * tables IS banding with `bands = L`, `bits = 8` — one mechanism,
    * two tuning conventions). Input `e` must carry (vec_id, v, nrm).
    * Plane family: band b, bit k uses hyperplane index b*bits+k from
    * the shared md5-derived family (`hyperplaneBit`), so any (bands,
    * bits) choice is deterministic and oracle-mirrorable. Shuffles
    * carry (band_id, bits-wide key, vec_id); vectors move only for
    * candidates, and every emitted pair passed the exact cosine
    * verify (sound by construction; recall is the measured knob —
    * VectorOpsLshSpec).
    */
  private[graft] def bandedPairs(e: DataFrame, bands: Int, bits: Int,
      threshold: Double, dim: Int = 64): DataFrame = {
    val w = weightMatrix(bands * bits, dim)
    val sig = e.select(col("vec_id"),
      transform(sequence(lit(0), lit(bands - 1)), b =>
        concat_ws("", transform(sequence(lit(0), lit(bits - 1)), k =>
          hyperplaneBit(w, b * bits + k, col("v"))))).as("bands"))
    val bandsDf = sig.select(col("vec_id"),
      posexplode(col("bands")).as(Seq("band_id", "band_key")))
    val cand = bandsDf.toDF("vid_a", "band_id", "band_key")
      .join(bandsDf.toDF("vid_b", "band_id", "band_key"), Seq("band_id", "band_key"))
      .where(col("vid_a") < col("vid_b"))
      .select("vid_a", "vid_b").distinct()
    cand
      .join(e.select(col("vec_id").as("vid_a"), col("v").as("va"), col("nrm").as("na")), Seq("vid_a"))
      .join(e.select(col("vec_id").as("vid_b"), col("v").as("vb"), col("nrm").as("nb")), Seq("vid_b"))
      .withColumn("cos", dot("va", "vb") / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select("vid_a", "vid_b")
      .orderBy("vid_a", "vid_b")
  }

  /** SQL mirror of `bandedPairs` over the `embeddings` table: `planes`
    * and `bits` are SQL expressions (literals or scalar subqueries) so
    * q74p can derive the band width from `count(*)` inside the oracle
    * itself, exactly as the Spark side derives it from `.count()`.
    */
  private def bandedPairsSql(planesExpr: String, bitsExpr: String,
      threshold: String): String =
    s"""WITH n_ AS (SELECT count(*) AS n FROM embeddings),
       cfg AS (SELECT $bitsExpr AS bits, $planesExpr AS planes FROM n_),
       e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
               generate_subscripts(embedding,1) - 1 AS i FROM embeddings),
       s AS (SELECT vec_id, p.p,
               sum(v * (CAST(ascii(substr(md5(p.p || ':' || i), 1, 1)) % 16 AS DOUBLE) - 7.5)) AS proj
             FROM e CROSS JOIN (SELECT unnest(range((SELECT planes FROM cfg))) AS p) p
             GROUP BY vec_id, p.p),
       k AS (SELECT vec_id, p // (SELECT bits FROM cfg) AS band_id,
               string_agg(CASE WHEN proj > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS band_key
             FROM s GROUP BY vec_id, p // (SELECT bits FROM cfg)),
       cand AS (SELECT DISTINCT a.vec_id AS vid_a, b.vec_id AS vid_b
                FROM k a JOIN k b ON a.band_id = b.band_id
                  AND a.band_key = b.band_key AND a.vec_id < b.vec_id),
       cs AS (SELECT c.vid_a, c.vid_b,
                sum(ea.v*eb.v)/(sqrt(sum(ea.v*ea.v))*sqrt(sum(eb.v*eb.v))) AS cos
              FROM cand c JOIN e ea ON ea.vec_id = c.vid_a
              JOIN e eb ON eb.vec_id = c.vid_b AND eb.i = ea.i
              GROUP BY 1,2)
       SELECT vid_a, vid_b FROM cs WHERE cos >= $threshold
       ORDER BY vid_a, vid_b"""

  /** q92's engine, parameterized on the dedup threshold so the spec can
    * measure the production operating point (cos ≥ 0.9 planted dups)
    * while the driver-facing query keeps 0.4 (non-degenerate at the
    * testdata's independent-draw cosine range). Returns the SURVIVING
    * vec_ids: a vector is pruned when any same-IVF-cell vector with a
    * smaller vec_id sits at cos ≥ threshold.
    */
  private[graft] def semanticDedupKept(s: SparkSession, d: String,
      threshold: Double, k: Int = 8): DataFrame = {
    // assign feeds both join sides — materialize the Lloyd pass once
    // (q33's rationale).
    val assign = ivfAssign(s, d, k = k).localCheckpoint()
    val a = assign.select(col("cell"), col("vec_id").as("vid_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assign.select(col("cell"), col("vec_id").as("vid_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pruned = a.join(b, Seq("cell"))
      .where(col("vid_a") < col("vid_b"))
      .withColumn("cos", dot("va", "vb") / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("vid_b").as("vec_id")).distinct()
    tbl(s, d, "embeddings").select("vec_id")
      .join(pruned, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** Data-derived IVF centroids (replaces round-2's md5-derived ones,
    * whose recall was unrepresentative — BENCH.md measured 1/30
    * single-probe): 8 deterministic seed vectors (vec_id 0..7) refined
    * by ONE Lloyd step under the cosine metric — every vector joins its
    * max-cosine seed, each cell's centroid becomes the element-wise
    * MEAN of its members (empty cells keep their seed). Deterministic,
    * identical construction in the oracle SQL. Scale shape: seeds and
    * centroids are k×dim tiny (broadcast); the Lloyd step is one
    * corpus pass (posexplode → per-(cell,dim) partial-agg mean), the
    * same cost as any k-means iteration.
    */
  private def ivfCentroids(s: SparkSession, d: String, k: Int = 8): DataFrame = {
    val e = emb(s, d)
    val seeds = e.where(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cell"), col("v").as("sv"),
        col("nrm").as("snrm"))
    val a0 = e.select(col("vec_id"), col("v"))
      .join(broadcast(seeds), lit(true))
      .withColumn("cos", call_function("vector_dot", col("v"), col("sv")) / col("snrm"))
    val w0 = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("cell").asc)
    val assigned = a0.withColumn("rn", row_number().over(w0)).where(col("rn") === 1)
      .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
    val means = assigned.groupBy("cell", "i").agg(avg("x").as("w"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("w")))),
        t => t.getField("w")).as("mv"))
    seeds.select("cell", "sv").join(means, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("mv"), col("sv")).as("cv"))
      .withColumn("cnrm", sqrt(call_function("vector_dot", col("cv"), col("cv"))))
  }

  /** IVF coarse quantization: cells ranked by centroid COSINE per vector
    * (dot / centroid norm — the per-vector norm is constant within the
    * ranking; ties break to the lowest cell id, matching the oracle's
    * row_number ordering). `probes = 1` is the storage assignment; a
    * query searches its top-`probes` cells (multi-probe — the recall
    * knob; see BENCH.md scale-path quality table).
    */
  private def ivfAssign(s: SparkSession, d: String, probes: Int = 1,
      centroids: Option[DataFrame] = None, k: Int = 8): DataFrame = {
    val e = emb(s, d)
    // The Lloyd pass is a full corpus scan: materialize its tiny k×dim
    // result so no query plan embeds (and re-executes) it twice —
    // callers that assign at several probe depths pass ONE shared
    // centroid table in.
    val cents = centroids.getOrElse(ivfCentroids(s, d, k).localCheckpoint())
    val dots = e.join(broadcast(cents), lit(true))
      .withColumn("cdot", call_function("vector_dot", col("v"), col("cv")) / col("cnrm"))
    val w = Window.partitionBy("vec_id").orderBy(col("cdot").desc, col("cell").asc)
    dots.withColumn("rn", row_number().over(w)).where(col("rn") <= probes)
      .select("vec_id", "cell", "v", "nrm")
  }

  /** Corpus-sized cell count for the production quantizer (q92p): one
    * cell per ~64 vectors, floored at the teaching variant's 8 and
    * capped at 2^20 so `cell` stays int-safe. Integer-exact on both
    * engines (`ivfKSql` is the verbatim DuckDB mirror). At the 10^12
    * design point the flat quantizer would hit the cap with ~10^6
    * docs/cell — production there goes hierarchical (two-level IVF:
    * assign to a coarse cell, re-quantize within it — the same operator
    * applied twice); the clamp keeps the single-level math honest at
    * every sandbox SF while the ladder, not a constant, is what the
    * oracle pins.
    */
  private[graft] def ivfK(n: Long): Int =
    math.min(math.max(8L, n / 64L), 1L << 20).toInt

  private val ivfKSql: String =
    "least(greatest(8, (SELECT count(*) FROM embeddings) // 64), 1048576)"

  /** Shared WITH-prefix of the IVF oracle SQL (defines e, the seeded
    * one-Lloyd-step centroids, dotsn, assign) — the exact SQL mirror of
    * `ivfCentroids`/`ivfAssign` at seed count `kExpr` (a SQL literal or
    * scalar subquery, mirroring the Spark side's `k` argument).
    */
  private def ivfAssignSqlK(kExpr: String): String =
    s"""WITH e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
         generate_subscripts(embedding,1)-1 AS i FROM embeddings),
      seed AS (SELECT vec_id AS cell, i, v AS w FROM e WHERE vec_id < ($kExpr)),
      snrm AS (SELECT cell, sqrt(sum(w*w)) AS nrm FROM seed GROUP BY 1),
      a0c AS (SELECT e.vec_id, seed.cell, sum(e.v * seed.w) AS dot
              FROM e JOIN seed ON e.i = seed.i GROUP BY 1,2),
      a0 AS (SELECT vec_id, cell FROM (
             SELECT a0c.vec_id, a0c.cell,
               row_number() OVER (PARTITION BY a0c.vec_id
                 ORDER BY a0c.dot / snrm.nrm DESC, a0c.cell) AS rn
             FROM a0c JOIN snrm USING (cell)) WHERE rn = 1),
      centm AS (SELECT a0.cell, e.i, avg(e.v) AS w
                FROM a0 JOIN e ON e.vec_id = a0.vec_id GROUP BY 1,2),
      cent AS (SELECT s.cell, s.i, coalesce(c.w, s.w) AS w
               FROM seed s LEFT JOIN centm c ON c.cell = s.cell AND c.i = s.i),
      cnrm AS (SELECT cell, sqrt(sum(w*w)) AS nrm FROM cent GROUP BY 1),
      dots AS (SELECT e.vec_id, cent.cell, sum(e.v * cent.w) AS rawdot
               FROM e JOIN cent ON e.i = cent.i GROUP BY 1,2),
      dotsn AS (SELECT dots.vec_id, dots.cell, dots.rawdot / cnrm.nrm AS dot
                FROM dots JOIN cnrm USING (cell)),
      assign AS (SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
          row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell) AS rn
        FROM dotsn) WHERE rn = 1)
    """

  /** Each query's `k` best neighbours in `scored` (query_id,
    * neighbor_id, cos), as (query_id, rank, neighbor_id) ordered by both:
    * cos descending, ties to the smaller neighbor_id, the oracle's
    * `row_number() OVER (PARTITION BY query_id ORDER BY cos DESC,
    * neighbor_id)`.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  /** The teaching-variant prefix (fixed 8 seeds — q32/q33/q39/q92). */
  private val ivfAssignSql: String = ivfAssignSqlK("8")

  /** The tail of q92's and q92p's oracles after the `assign` CTE: every
    * vector with a same-cell, lower-id neighbour at cos ≥ 0.4 is pruned.
    */
  private val semanticDedupSql: String =
    """, pc AS (SELECT a.vec_id AS vid_a, b.vec_id AS vid_b,
         sum(ea.v*eb.v)/(sqrt(sum(ea.v*ea.v))*sqrt(sum(eb.v*eb.v))) AS cos
       FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       JOIN e ea ON ea.vec_id = a.vec_id
       JOIN e eb ON eb.vec_id = b.vec_id AND eb.i = ea.i
       GROUP BY 1,2),
    pruned AS (SELECT DISTINCT vid_b FROM pc WHERE cos >= 0.4)
    SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT vid_b FROM pruned)
    ORDER BY vec_id"""

  val defs: Seq[Q] = Seq(

    // ---- Brute-force cosine top-k: 10 query vectors × full corpus.
    ("q29_cosine_topk",
      (s, d) => {
        val e = emb(s, d)
        val q = e.where(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
        val n = e.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("nrm").as("nn"))
          .repartition(s.sparkContext.defaultParallelism)
        val scored = n.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
          .withColumn("cos", dot("qv", "nv") / (col("qn") * col("nn")))
        topK(scored, 5)
      },
      Some("""WITH e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
                           generate_subscripts(embedding,1) AS i FROM embeddings),
             p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                     sum(q.v*n.v) AS dot, sqrt(sum(q.v*q.v)) AS nq, sqrt(sum(n.v*n.v)) AS nn
                   FROM e q JOIN e n ON q.i = n.i
                   WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id
                   GROUP BY 1,2),
             rk AS (SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY dot/(nq*nn) DESC, neighbor_id) AS rank
                    FROM p)
             SELECT query_id, rank, neighbor_id FROM rk WHERE rank <= 5
             ORDER BY query_id, rank""")),

    // ---- LSH bucketing: sign of dot(v, hyperplane_b) for 8 md5-derived
    // deterministic hyperplanes → bucket key; bucket histogram. This is
    // the candidate-generation stage of ANN at scale (pairs only within
    // buckets — no all-pairs join).
    ("q30_lsh_buckets",
      (s, d) => {
        val w = weightMatrix(8, embDim(s, d))
        emb(s, d)
          .withColumn("bucket",
            concat_ws("", transform(sequence(lit(0), lit(7)),
              b => hyperplaneBit(w, b, col("v")))))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("min_vec_id"))
          .orderBy("bucket")
      },
      Some("""WITH e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
                           generate_subscripts(embedding,1) - 1 AS i FROM embeddings),
             s AS (SELECT vec_id, b.b,
                     sum(v * (CAST(ascii(substr(md5(b.b || ':' || i), 1, 1)) % 16 AS DOUBLE) - 7.5)) AS proj
                   FROM e CROSS JOIN (SELECT unnest(range(8)) AS b) b
                   GROUP BY vec_id, b.b),
             k AS (SELECT vec_id, string_agg(CASE WHEN proj > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS bucket
                   FROM s GROUP BY vec_id)
             SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(min(vec_id) AS BIGINT) AS min_vec_id
             FROM k GROUP BY 1 ORDER BY 1""")),

    // ---- IVF cell assignment: 8 deterministic md5-derived centroids;
    // each vector joins its argmax-dot cell. At scale this is the
    // coarse quantizer of IVF-ANN: one narrow pass over the corpus, and
    // subsequent searches touch only one cell (1/k of the data).
    ("q32_ivf_cells",
      (s, d) => ivfAssign(s, d)
        .withColumn("cell", col("cell").cast("long"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("min_vec_id"))
        .orderBy("cell"),
      Some(ivfAssignSql +
        """SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
          CAST(min(vec_id) AS BIGINT) AS min_vec_id
          FROM assign GROUP BY 1 ORDER BY 1""")),

    // ---- IVF top-k: queries search ONLY their own cell (the ANN scale
    // path — recall trades against the 8× candidate reduction; the
    // brute-force q29 is its exact-recall verifier).
    ("q33_ivf_topk",
      (s, d) => {
        // assign feeds both the query and neighbor sides: materialize it
        // once (same rationale as q24p's `enriched`).
        val assign = ivfAssign(s, d).localCheckpoint()
        val q = assign.where(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("cell"),
            col("v").as("qv"), col("nrm").as("qn"))
        val n = assign.select(col("vec_id").as("neighbor_id"), col("cell"),
          col("v").as("nv"), col("nrm").as("nn"))
        val scored = n.join(broadcast(q), Seq("cell"))
          .where(col("neighbor_id") =!= col("query_id"))
          .withColumn("cos", dot("qv", "nv") / (col("qn") * col("nn")))
        topK(scored, 3)
      },
      Some(ivfAssignSql +
        """, p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             sum(eq.v*en.v)/(sqrt(sum(eq.v*eq.v))*sqrt(sum(en.v*en.v))) AS cos
           FROM assign q JOIN assign n ON q.cell = n.cell AND q.vec_id <> n.vec_id
           JOIN e eq ON eq.vec_id = q.vec_id
           JOIN e en ON en.vec_id = n.vec_id AND en.i = eq.i
           WHERE q.vec_id < 10
           GROUP BY 1,2),
        rk AS (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
               FROM p)
        SELECT query_id, rank, neighbor_id FROM rk WHERE rank <= 3
        ORDER BY query_id, rank""")),

    // ---- Multi-probe IVF top-k: queries search their top-3 cells
    // instead of one — the recall knob (measured: 1-probe 3%, 3-probe
    // 53% of exact top-3 on this corpus; BENCH.md). Corpus side stays
    // single-assigned; only query fan-out grows.
    ("q39_ivf_multiprobe",
      (s, d) => {
        // One Lloyd pass shared by both probe depths, and the corpus
        // assignment materialized once for the join's neighbor side.
        val cents = ivfCentroids(s, d).localCheckpoint()
        val assign = ivfAssign(s, d, centroids = Some(cents)).localCheckpoint()
        val probes = ivfAssign(s, d, probes = 3, centroids = Some(cents))
        val q = probes.where(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("cell"),
            col("v").as("qv"), col("nrm").as("qn"))
        val n = assign.select(col("vec_id").as("neighbor_id"), col("cell"),
          col("v").as("nv"), col("nrm").as("nn"))
        val scored = n.join(broadcast(q), Seq("cell"))
          .where(col("neighbor_id") =!= col("query_id"))
          .withColumn("cos", dot("qv", "nv") / (col("qn") * col("nn")))
          .select("query_id", "neighbor_id", "cos").distinct()
        topK(scored, 3)
      },
      Some(ivfAssignSql +
        """, probes AS (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell) AS rn
             FROM dotsn) WHERE rn <= 3),
        p AS (SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
              FROM probes q JOIN assign n ON q.cell = n.cell AND q.vec_id <> n.vec_id
              WHERE q.vec_id < 10),
        sc AS (SELECT p.query_id, p.neighbor_id,
                 sum(eq.v*en.v)/(sqrt(sum(eq.v*eq.v))*sqrt(sum(en.v*en.v))) AS cos
               FROM p JOIN e eq ON eq.vec_id = p.query_id
               JOIN e en ON en.vec_id = p.neighbor_id AND en.i = eq.i
               GROUP BY 1,2),
        rk AS (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
               FROM sc)
        SELECT query_id, rank, neighbor_id FROM rk WHERE rank <= 3
        ORDER BY query_id, rank""")),

    // ---- LSH-banded embedding near-dup (q31's SCALE PATH, the same
    // closure q73 gives SimHash): 16 md5-derived hyperplanes in 4 bands
    // × 4 sign bits; candidate pairs share ≥1 exact 4-bit band key,
    // then exact cosine ≥ 0.4 verifies. The oracle mirrors the banding
    // procedure bit-for-bit, so a green row pins the implementation
    // EXACTLY; the retrieval quality is MEASURED against the q31 brute
    // baseline and reported, not assumed (QueryOpsSpec: recall 29/59 =
    // 0.49 at this corpus's low 0.4 threshold — random-hyperplane LSH
    // is genuinely weak at 66° angles). The fixed 4-bit key is a
    // SMALL-CORPUS TEACHING VARIANT (16 buckets/band → O(n²/16)
    // candidates); the production path is q74p below, whose band width
    // follows corpus size (`bandBits`), and whose ≥0.95 recall at the
    // production cos ≥ 0.9 operating point is measured with 16-bit
    // keys in VectorOpsLshSpec.
    ("q74_embedding_neardup_lsh",
      (s, d) => bandedPairs(emb(s, d), bands = 4, bits = 4, threshold = 0.4, dim = embDim(s, d)),
      Some(bandedPairsSql(planesExpr = "16", bitsExpr = "4", threshold = "0.4"))),

    // ---- PRODUCTION banded embedding near-dup (q74's scale fix): band
    // width derived from corpus size — smallest b in [4,16] with
    // n ≤ 32·2^b (`bandBits`; 2^b buckets per band ⇒ expected bucket
    // occupancy ≤32, so candidate volume stays ~O(n) at any scale; at
    // the 10^12 design point keys are 16-bit), 6 bands for recall
    // amplification (recall = 1-(1-p^bits)^6). The DuckDB oracle
    // derives bits from count(*) through the IDENTICAL integer ladder,
    // so the adaptive banding is pinned bit-for-bit at every SF the
    // driver runs. Retrieval quality at the production operating point
    // (16-bit keys, cos ≥ 0.9 near-dups) is MEASURED ≥0.95 against the
    // brute baseline on a planted-duplicate corpus in VectorOpsLshSpec;
    // this testdata run keeps the 0.4 threshold so the output is
    // non-degenerate at small SF.
    ("q74p_embedding_neardup_banded",
      (s, d) => {
        val n = tbl(s, d, "embeddings").count()
        bandedPairs(emb(s, d), bands = 6, bits = bandBits(n), threshold = 0.4, dim = embDim(s, d))
      },
      Some(bandedPairsSql(
        planesExpr = s"6 * ($bandBitsSql)",
        bitsExpr = bandBitsSql,
        threshold = "0.4"))),

    // ---- OR-amplified hyperplane LSH (the q30 note's missing
    // amplification, shipped): L=4 independent 8-bit tables — table t
    // hashes with planes t*8..t*8+7 (table 0 IS q30's bucket key) and a
    // pair is a candidate if it collides in ANY table. OR-ing L tables
    // is algebraically banding with bands=L, bits=8, so this shares
    // `bandedPairs`; the knob conventions differ (ANN tables fix the
    // key width and buy recall with more tables; near-dup banding grows
    // the key width with the corpus). Recall-vs-L curve (L=1,2,4,8) is
    // measured against the brute baseline in VectorOpsLshSpec and
    // reported in BENCH.md, mirroring the IVF probe-curve treatment.
    ("q30p_lsh_ortables",
      (s, d) => bandedPairs(emb(s, d), bands = 4, bits = 8, threshold = 0.4, dim = embDim(s, d)),
      Some(bandedPairsSql(planesExpr = "32", bitsExpr = "8", threshold = "0.4"))),

    // ---- SemDeDup-style semantic dedup (cluster-then-prune, the
    // published economics of embedding dedup at scale: k-means the
    // corpus, then compare ONLY within a cluster — Abbas et al. 2023).
    // Reuses the q32/q33 IVF coarse quantizer as the clustering; a
    // vector is pruned when ANY same-cell vector with a smaller vec_id
    // sits at cos ≥ 0.4 (deterministic keep-lowest-id representative,
    // no transitive closure — the SemDeDup rule, not q35's CC
    // clustering). Output = surviving vec_ids. Scale shape: candidate
    // volume is Σ|cell|² instead of n² — this teaching variant keeps
    // the fixed 8-cell quantizer (q32/q33's); the PRODUCTION variant is
    // q92p below, whose cell count follows corpus size (`ivfK`) so
    // per-cell work is bounded at any scale. The centroid table stays
    // tiny/broadcast, and the only wide exchange
    // carries (cell, vec_id, v). Differs from q74p (global LSH pair
    // emit): this is the keep/drop decision layer, and its cells give
    // it the "one representative per semantic neighborhood" semantics
    // LSH banding cannot (banding can split a neighborhood across
    // buckets; a cell never does).
    ("q92_semantic_dedup",
      (s, d) => semanticDedupKept(s, d, threshold = 0.4),
      Some(ivfAssignSql + semanticDedupSql)),

    // ---- PRODUCTION semantic dedup (q92's scale fix, the q74p
    // treatment applied to the quantizer): cell count derived from
    // corpus size — k = clamp(n/64, 8, 2^20) (`ivfK`), so per-cell
    // occupancy stays ~64 and the within-cell pair stage stays ~O(n)
    // at any corpus size instead of the fixed-k O(n²/8) growth. The
    // DuckDB oracle derives k from count(*) through the IDENTICAL
    // integer ladder, pinning the adaptive quantizer at every SF the
    // driver runs. Same keep-lowest-id rule and threshold as q92.
    ("q92p_semantic_dedup_scaled",
      (s, d) => {
        val n = tbl(s, d, "embeddings").count()
        semanticDedupKept(s, d, threshold = 0.4, k = ivfK(n))
      },
      Some(ivfAssignSqlK(ivfKSql) + semanticDedupSql)),

    // ---- All-pairs cosine near-dup (embedding near-duplicate detection
    // baseline; ids only — rank order is FP-stable, raw scores are not).
    ("q31_embedding_neardup",
      (s, d) => {
        requireBaselineScale(s, d, "embeddings", "q31_embedding_neardup")
        val e = emb(s, d)
        // Streamed side repartitioned so the O(n²) nested-loop compare
        // parallelizes (a small parquet is otherwise a single split).
        val a = e.select(col("vec_id").as("vid_a"), col("v").as("va"), col("nrm").as("na"))
          .repartition(s.sparkContext.defaultParallelism)
        val b = broadcast(e.select(col("vec_id").as("vid_b"), col("v").as("vb"), col("nrm").as("nb")))
        a.join(b, col("vid_a") < col("vid_b"))
          .withColumn("cos", dot("va", "vb") / (col("na") * col("nb")))
          .where(col("cos") >= 0.4)
          .select("vid_a", "vid_b")
          .orderBy("vid_a", "vid_b")
      },
      Some("""WITH e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
                           generate_subscripts(embedding,1) AS i FROM embeddings),
             p AS (SELECT q.vec_id AS vid_a, n.vec_id AS vid_b,
                     sum(q.v*n.v)/(sqrt(sum(q.v*q.v))*sqrt(sum(n.v*n.v))) AS c
                   FROM e q JOIN e n ON q.i = n.i AND q.vec_id < n.vec_id
                   GROUP BY 1,2)
             SELECT vid_a, vid_b FROM p WHERE c >= 0.4 ORDER BY vid_a, vid_b"""))
  )
}
