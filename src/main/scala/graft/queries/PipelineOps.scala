package graft.queries

import graft.app.ExtractJob
import graft.json.JsonRepair
import graft.model.Page
import graft.synth.PageGen
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The extraction pipeline itself, exposed as driver-checkable queries.
  * These run the from-scratch kernels (HTML tokenizer → boilerplate
  * strip; PDF text-layer parse; routing + fallback cascade) over the
  * deterministic synthetic page table (BASELINE.json input_hint — no
  * external data). Results are fully deterministic but not
  * SQL-expressible, so no DuckDB oracle → the driver records rows-only
  * checks; byte-exact semantics are pinned by the golden-file specs
  * under src/test (sbt -batch test).
  */
object PipelineOps {

  type Q = (String, (SparkSession, String) => DataFrame, Option[String])

  /** Deterministic page table; independent of sfDir by design. */
  private def pages(s: SparkSession, n: Long): Dataset[Page] = PageGen.generate(s, n)

  /** One binary "multimodal" record: payload size, magic, kind and, for
    * images, header dimensions (`decodeMedia`).
    */
  final case class MediaMeta(
      url: String, n_bytes: Long, magic: String, media_kind: String,
      width: Int, height: Int, frames: Int)

  /** One audio chunk or sampled frame — the 1→N row shape downstream
    * per-chunk/per-frame feature extractors consume.
    */
  final case class MediaFeature(
      url: String, kind: String, idx: Int, start_ms: Long, dur_ms: Long)

  /** Real multimodal decode: header-only dimension parse for the image
    * container formats (graft.media.ImageHeaders — PNG/JPEG/GIF/BMP/
    * TIFF, the reference's accepted upload types, backends/base.py:
    * 202-209); document payloads (pdf/html) classify by magic with no
    * dimensions.
    */
  def decodeMedia(url: String, payload: Array[Byte]): MediaMeta = {
    graft.media.ImageHeaders.decode(payload) match {
      case Some(d) =>
        MediaMeta(url, payload.length.toLong, d.format, "image", d.width, d.height, 1)
      case None =>
        val n = if (payload == null) 0 else payload.length
        val magic =
          if (n > 0 && graft.pdf.PdfParser.isPdf(payload)) "pdf"
          else if (n > 0 && (payload(0) == '<' || payload(0) == ' ')) "html"
          else "bin"
        MediaMeta(url, n.toLong, magic, if (magic == "bin") "binary" else "document", 0, 0, 0)
    }
  }

  /** x65's WAT link records, shared with app.CorpusPipeline's `--links`
    * sidecar: one (src_url, target, anchor) row per resolved link of
    * every page's `html` (html.Links). Map-only flatMap over the
    * payload; only `url` and `html` are deserialized.
    */
  def linkRecords(pages: Dataset[_]): DataFrame = {
    import pages.sparkSession.implicits._
    pages.select("url", "html").as[(String, Array[Byte])]
      .flatMap { case (url, html) =>
        graft.html.Links.records(url, html).map { case (t, a) => (url, t, a) } }
      .toDF("src_url", "target", "anchor")
  }

  /** x65's grouping key: a resolved link target's path, always rooted at
    * `/` (an authority-only target keys as `/`).
    */
  def linkPath(target: Column): Column =
    // The query string stays in the key: different query strings are different resources.
    regexp_replace(target, "^https?://[^/?#]+/?", "/")

  val defs: Seq[Q] = Seq(

    // ---- Full extraction: classify → route → extract → compose, one
    // kernel pass, map-only (§4.4 plan of record).
    ("x40_extract_balanced",
      (s, _) => ExtractJob.extractKernel(pages(s, 1200), "balanced")
        .select("url", "pdf_type", "total_pages", "word_count",
          "extraction_method", "confidence", "success")
        .orderBy("url"),
      None),

    // ---- Classification-only slice (§3.3): per-type corpus histogram.
    ("x41_classify_stats",
      // fast → never OCR: pure classify+direct
      (s, _) => ExtractJob.extractKernel(pages(s, 2000), "fast")
        .groupBy("pdf_type")
        .agg(count(lit(1)).as("n_docs"),
             round(avg("confidence"), 6).as("avg_confidence"),
             sum(col("word_count").cast("long")).as("total_words"))
        .orderBy("pdf_type"),
      None),

    // ---- Byte-exact extracted text (the per-row invariant surface:
    // url → composed text with page markers).
    ("x42_extract_text",
      (s, _) => ExtractJob.extractKernel(pages(s, 300), "accurate")
        .select("url", "text", "word_count").orderBy("url"),
      None),

    // ---- Exact dedup over *extracted* text: PageGen plants ~6%
    // duplicate clusters; dedup runs on kernel output, not raw payloads.
    // Oracle-matched (was rows-only): DuckDB re-derives PageGen's
    // id→content-class arithmetic — splitmix64 (UHUGEINT-mod-2^64),
    // unitDouble, the dup-cluster replay (contentId) and the family CDF
    // with its exact accumulated-double thresholds — and predicts every
    // md5-collision group from first principles. The oracle additionally
    // pins two KERNEL facts the golden suite asserts: (a) the PDF and
    // HTML containers of the same fixture extract byte-identical text
    // (text_simple/hybrid_2p/image_only merge with their _pdf twins;
    // german_invoice does NOT — different layouts), and (b) 'empty' and
    // 'corrupted' rows are dropped by the success/nonempty filter.
    // Canonical id (min numeric url id) replaces the md5 digest in the
    // output so the oracle needs no text, and min(url)'s Zipf host
    // prefix needs no SQL replication.
    ("q43_dedup_extracted",
      (s, _) => {
        ExtractJob.extractKernel(pages(s, 2000), "balanced")
          .where(col("success") && length(col("text")) > 0)
          .withColumn("id", regexp_extract(col("url"), "p(\\d+)\\.html$", 1).cast("long"))
          .groupBy(md5(col("text")).as("digest"))
          .agg(min("id").as("canonical_id"), count(lit(1)).as("n_docs"))
          .where(col("n_docs") > 1)
          .select("canonical_id", "n_docs")
          .orderBy("canonical_id")
      },
      Some(s"""WITH ids AS MATERIALIZED (SELECT unnest(range(0, 2000)) AS id),
             -- splitmix64, staged via lateral aliases; MATERIALIZED stops
             -- CTE inlining from exponentially re-expanding the chain.
             ma AS MATERIALIZED (
               SELECT *,
                 ${PageGen.mix64Sql("CAST(xor(id, 1685418085) AS UBIGINT)", "ma_")(_ + " AS ma")}
               FROM ids),
             mb AS MATERIALIZED (
               SELECT *,
                 ${PageGen.mix64Sql("xor(CAST(42 AS UBIGINT), ma)", "mb_")(_ + " AS mb")}
               FROM ma),
             cid_t AS MATERIALIZED (
               SELECT id, CASE WHEN CAST(mb >> 11 AS DOUBLE) / 9007199254740992.0 < 0.06 AND id >= 32
                               THEN (id // 32) * 32 ELSE id END AS cid
               FROM mb),
             mc AS MATERIALIZED (
               SELECT *,
                 ${PageGen.mix64Sql("CAST(xor(cid, 439721224556) AS UBIGINT)", "mc_")(_ + " AS mc")}
               FROM cid_t),
             md AS MATERIALIZED (
               SELECT *,
                 ${PageGen.mix64Sql("xor(CAST(42 AS UBIGINT), mc)", "md_")(_ + " AS md")}
               FROM mc),
             fam AS (
               SELECT id, cid, CAST(md >> 11 AS DOUBLE) / 9007199254740992.0 AS u,
                 CASE WHEN 0.3 >= u THEN 'text_simple'
                      WHEN 0.55 >= u THEN 'article'
                      WHEN 0.65 >= u THEN 'hybrid_2p'
                      WHEN 0.72 >= u THEN 'image_only'
                      WHEN 0.7999999999999999 >= u THEN 'multipage_3'
                      WHEN 0.84 >= u THEN 'german_invoice'
                      WHEN 0.89 >= u THEN 'boilerplate'
                      WHEN 0.91 >= u THEN 'empty'
                      WHEN 0.9500000000000001 >= u THEN 'text_simple_pdf'
                      WHEN 0.9700000000000001 >= u THEN 'hybrid_2p_pdf'
                      WHEN 0.9800000000000001 >= u THEN 'image_only_pdf'
                      WHEN 0.9900000000000001 >= u THEN 'german_invoice_pdf'
                      ELSE 'corrupted' END AS f
               FROM md),
             cls AS (
               SELECT id,
                 CASE WHEN f = 'article' THEN 'a' || cid
                      WHEN f IN ('text_simple','text_simple_pdf') THEN 'text_simple'
                      WHEN f IN ('hybrid_2p','hybrid_2p_pdf') THEN 'hybrid_2p'
                      WHEN f IN ('image_only','image_only_pdf') THEN 'image_only'
                      ELSE f END AS key
               FROM fam WHERE f NOT IN ('empty','corrupted'))
             SELECT CAST(min(id) AS BIGINT) AS canonical_id, CAST(count(*) AS BIGINT) AS n_docs
             FROM cls GROUP BY key HAVING count(*) > 1 ORDER BY canonical_id""")),

    // ---- JSON repair cascade (F7-F11) over deterministically-broken
    // documents derived from events.props. Oracle-checked: the DuckDB
    // side applies the same corruption, then decides repairability with
    // json_valid over (raw | comma-inserted | trailing-comma-stripped)
    // — exactly the outcomes the cascade produces for this corruption
    // family (strategy 1/2 = comma insertion, strategy 3 = trailing
    // comma removal; the repaired TEXT differs, only validity is
    // compared).
    ("q44_json_repair",
      (s, d) => {
        import s.implicits._
        val broken = QueryUtil.tbl(s, d, "events")
          .select(col("event_id"), col("props"))
          .as[(Long, String)]
          .map { case (id, props) =>
            // Deterministic corruption by id class: trailing comma /
            // missing comma between members / unbroken.
            val j = id % 3 match {
              case 0 => props.stripSuffix("}") + ",}"
              case 1 => props.stripSuffix("}") + " \"x\": 1}"
              case _ => props
            }
            (id, j)
          }.toDF("event_id", "payload")
        val repaired = broken.as[(Long, String)].map { case (id, j) =>
          val (ok, wasRepaired) = JsonRepair.repairStatus(j)
          (id, ok, wasRepaired)
        }.toDF("event_id", "ok", "was_repaired")
        repaired.groupBy("ok", "was_repaired")
          .agg(count(lit(1)).as("n"))
          .orderBy("ok", "was_repaired")
      },
      Some("""WITH b AS (SELECT event_id,
               CASE CAST(event_id % 3 AS INT)
                 WHEN 0 THEN regexp_replace(props, '\}$', ',}')
                 WHEN 1 THEN regexp_replace(props, '\}$', ' "x": 1}')
                 ELSE props END AS payload
               FROM events),
             -- DuckDB's json_valid (yyjson) ACCEPTS trailing commas that
             -- strict Python json rejects, so strict validity also
             -- requires the absence of ',}' / ',]' (safe here: props
             -- carries no string values that could contain the pattern).
             -- vcomma inserts the comma the missing-comma corruption
             -- removed (suffix-exact, no regex backrefs — replacement
             -- backref escaping differs across the JSON round-trip).
             r AS (SELECT event_id,
                     (json_valid(payload)
                      AND NOT regexp_matches(payload, ',\s*[\}\]]')) AS v0,
                     json_valid(regexp_replace(regexp_replace(payload,
                       ',\s*\}', '}', 'g'), ',\s*\]', ']', 'g')) AS vtrail,
                     (json_valid(regexp_replace(payload,
                        ' "x": 1\}$', ', "x": 1}'))
                      AND NOT regexp_matches(regexp_replace(payload,
                        ' "x": 1\}$', ', "x": 1}'),
                        ',\s*[\}\]]')) AS vcomma
                   FROM b),
             s AS (SELECT (v0 OR vtrail OR vcomma) AS ok,
                          ((v0 OR vtrail OR vcomma) AND NOT v0) AS was_repaired
                   FROM r)
             SELECT ok, was_repaired, CAST(count(*) AS BIGINT) AS n
             FROM s GROUP BY 1,2 ORDER BY 1,2""")),

    // ---- Winnowed rolling-hash fingerprints (passage-level dup
    // detection): fingerprints shared across documents = copied runs.
    // Scale shape: explode → groupBy fingerprint — shuffle carries only
    // (hash, doc_id) pairs, never text. Oracle-matched (was rows-only):
    // DuckDB re-derives the FULL winnow — FNV-1a over each 8-gram
    // (HUGEINT-mod-2^64 arithmetic, both UTF-16 bytes per char),
    // signed-Long window minimum with the rightmost tie-break, per-doc
    // distinct — via list comprehensions + list_reduce, so the green
    // hash pins the exact fingerprint set cross-engine. The oracle's
    // lower/trim/'\s+' normalization equals Fingerprint.normalize on
    // this corpus (single-line ASCII text).
    ("q45_fingerprint",
      (s, d) => {
        import s.implicits._
        val fps = QueryUtil.tbl(s, d, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .flatMap { case (id, text) =>
            graft.text.Fingerprint.winnow(text).map(h => (id, h))
          }.toDF("doc_id", "fp")
        fps.groupBy("fp")
          .agg(countDistinct("doc_id").as("n_docs"), min("doc_id").as("first_doc"))
          .where(col("n_docs") > 1)
          .agg(count(lit(1)).as("shared_fingerprints"),
               sum("n_docs").as("doc_memberships"))
      },
      Some("""WITH t AS (
               SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS s FROM documents
             ),
             ch AS (
               SELECT doc_id, [CAST(ord(substr(s, x + 1, 1)) AS UBIGINT) FOR x IN range(0, length(s))] AS cs,
                      length(s) AS L
               FROM t WHERE length(s) >= 8
             ),
             hu AS (
               SELECT doc_id,
                 [ list_reduce(list_prepend(CAST(14695981039346656037 AS UBIGINT), cs[i+1:i+8]),
                     (h, c) -> CAST((CAST(xor(CAST((CAST(xor(h, c % 256) AS HUGEINT) * 1099511628211) % 18446744073709551616 AS UBIGINT), c // 256) AS HUGEINT) * 1099511628211) % 18446744073709551616 AS UBIGINT))
                   FOR i IN range(0, L - 7) ] AS hsu
               FROM ch
             ),
             hs_t AS (
               SELECT doc_id,
                 [CASE WHEN h >= CAST(9223372036854775808 AS UBIGINT)
                       THEN CAST(CAST(h AS HUGEINT) - 18446744073709551616 AS BIGINT)
                       ELSE CAST(h AS BIGINT) END FOR h IN hsu] AS hs
               FROM hu
             ),
             win AS (
               SELECT doc_id,
                 list_distinct([ hs[list_reduce(range(s + 1, s + w + 1),
                     (a, j) -> CASE WHEN hs[j] <= hs[a] THEN j ELSE a END)]
                   FOR s IN range(0, n - w + 1) ]) AS fps
               FROM (SELECT doc_id, hs, len(hs) AS n, least(4, len(hs)) AS w FROM hs_t)
             ),
             fps AS (SELECT doc_id, unnest(fps) AS fp FROM win),
             g AS (SELECT fp, count(DISTINCT doc_id) AS n_docs FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) > 1)
             SELECT CAST(count(*) AS BIGINT) AS shared_fingerprints,
                    CAST(coalesce(sum(n_docs), 0) AS BIGINT) AS doc_memberships FROM g""")),

    // ---- Extraction-quality eval metrics (reference eval framework A9:
    // CER/WER/Jaccard), ORACLE-CHECKED: hypothesis texts are PLANTED
    // from doc_id (identical / char-dropped / case-folded /
    // word-reversed — each stressing a different metric) so DuckDB can
    // recompute every metric independently: CER via byte-levenshtein
    // (the corpus is pure ASCII, so bytes == chars), WER via word-level
    // levenshtein — each per-row word mapped to a single ASCII char
    // (vocab ≤ ~62 « the 94 printable slots) so the char edit distance
    // IS the word edit distance — and Jaccard via list set-ops. A green
    // hash pins TextEval's PRODUCTION path — the bit-parallel Myers
    // scan (these docs are far under its alphabet budget) — and the
    // empty-input conventions cross-engine; the DP fallback is pinned
    // by TextEvalSpec's Myers==DP property tests. (The two-quality
    // kernel eval roll-up this replaces stays covered by TextEvalSpec +
    // the x40/x42 kernel queries.)
    ("q49_eval_quality",
      (s, d) => {
        import s.implicits._
        QueryUtil.tbl(s, d, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .map { case (id, ref) =>
            val (variant, hyp) = (id % 4).toInt match {
              case 0 => ("identical", ref)
              case 1 => ("char_dropped", ref.replace("e", ""))
              case 2 => ("case_folded", ref.toUpperCase(java.util.Locale.ROOT))
              case _ => ("word_reversed",
                graft.text.PyText.pySplit(ref).reverse.mkString(" "))
            }
            (id, variant,
              graft.text.TextEval.cer(ref, hyp),
              graft.text.TextEval.wer(ref, hyp),
              graft.text.TextEval.jaccardWords(ref, hyp))
          }.toDF("doc_id", "variant", "cer", "wer", "jaccard")
          .select(col("doc_id"), col("variant"),
            round(col("cer"), 6).as("cer"),
            round(col("wer"), 6).as("wer"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
               SELECT doc_id, text AS ref,
                 CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN 'identical' WHEN 1 THEN 'char_dropped'
                   WHEN 2 THEN 'case_folded' ELSE 'word_reversed' END AS variant,
                 CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN text
                   WHEN 1 THEN replace(text, 'e', '')
                   WHEN 2 THEN upper(text)
                   ELSE array_to_string(list_reverse(regexp_extract_all(text, '\S+')), ' ')
                 END AS hyp
               FROM documents),
             w AS (SELECT *,
                 regexp_extract_all(ref, '\S+') AS rw,
                 regexp_extract_all(hyp, '\S+') AS hw,
                 list_distinct(regexp_extract_all(lower(ref), '\S+')) AS sa,
                 list_distinct(regexp_extract_all(lower(hyp), '\S+')) AS sb
               FROM h),
             v AS (SELECT *, list_distinct(rw || hw) AS vocab FROM w),
             m AS (SELECT *,
                 array_to_string([chr(32 + CAST(list_position(vocab, x) AS INT)) FOR x IN rw], '') AS rs,
                 array_to_string([chr(32 + CAST(list_position(vocab, x) AS INT)) FOR x IN hw], '') AS hs
               FROM v)
             SELECT doc_id, variant,
               round(CASE WHEN len(ref) = 0 THEN CASE WHEN len(hyp) = 0 THEN 0.0 ELSE 1.0 END
                     ELSE CAST(levenshtein(ref, hyp) AS DOUBLE) / len(ref) END, 6) AS cer,
               round(CASE WHEN len(rw) = 0 THEN CASE WHEN len(hw) = 0 THEN 0.0 ELSE 1.0 END
                     ELSE CAST(levenshtein(rs, hs) AS DOUBLE) / len(rw) END, 6) AS wer,
               round(CASE WHEN len(sa) = 0 AND len(sb) = 0 THEN 1.0
                     ELSE CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                          / len(list_distinct(sa || sb)) END, 6) AS jaccard
             FROM m ORDER BY doc_id""")),

    // ---- Explicit routing plan (router.py:119-171 surface), ORACLE-
    // CHECKED: the standalone ContentRouter decision — strategy matrix
    // (router.py:212-245), page selection (:247-283), cost/time model
    // (:91-93,173-197), invalid-quality normalization (:134-136),
    // no-OCR-backend forcing (:142-143), and the full human-readable
    // reasoning string (:285-329, pyList ≤5 / count >5 branches) — over
    // classifications PLANTED deterministically from doc_id (the q44/
    // q54 pattern) so DuckDB can re-derive every decision as pure
    // CASE-WHEN + list comprehensions. A green hash proves the Scala
    // Router equals the published matrix on quality×type×backend×
    // page-mix combinations, including the reasoning text byte-for-byte.
    // This is the Router every extraction runs: the kernel normalizes
    // its quality through it and extracts with OCR exactly the pages of
    // Router.default.ocrPages (extract.Processor).
    ("q48_routing_plan",
      (s, d) => {
        import s.implicits._
        QueryUtil.tbl(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
          val qualityIn = (id % 4).toInt match {
            case 0 => "fast"
            case 1 => "balanced"
            case 2 => "accurate"
            case _ => "draft" // invalid on purpose → normalizes to balanced
          }
          val pdfType = ((id / 4) % 4).toInt match {
            case 0 => graft.model.Enums.PureText
            case 1 => graft.model.Enums.PureImage
            case 2 => graft.model.Enums.Hybrid
            case _ => graft.model.Enums.Unknown
          }
          val totalPages = (id % 7).toInt + 1
          val all = (1 to totalPages).toVector
          val cls = graft.model.Classification(
            pdf_type = pdfType,
            total_pages = totalPages,
            text_pages = all.filter(p => (id + p) % 3 == 0),
            image_pages = all.filter(p => (id + p) % 3 == 1),
            hybrid_pages = all.filter(p => (id + p) % 3 == 2),
            total_text_blocks = 0, total_image_blocks = 0,
            page_analyses = Seq.empty, confidence = 1.0)
          val hasOcr = id % 5 != 0
          val r = new graft.route.Router(hasOcrBackend = hasOcr).route(cls, qualityIn)
          (id, r.pdf_type, qualityIn, r.quality, hasOcr, r.strategy,
            r.total_pages, r.direct_pages.length, r.ocr_pages.length,
            r.direct_pages.mkString(","), r.ocr_pages.mkString(","),
            math.round(r.estimated_cost * 1e6) / 1e6,
            math.round(r.estimated_time_seconds * 1e6) / 1e6,
            r.reasoning)
        }.toDF("doc_id", "pdf_type", "quality_in", "quality", "has_ocr", "strategy",
            "total_pages", "n_direct", "n_ocr", "direct_pages", "ocr_pages",
            "est_cost", "est_time_s", "reasoning")
          .orderBy("doc_id")
      },
      Some("""WITH base AS (
               SELECT doc_id,
                 CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'fast' WHEN 1 THEN 'balanced'
                      WHEN 2 THEN 'accurate' ELSE 'draft' END AS quality_in,
                 CASE CAST((doc_id // 4) % 4 AS INT) WHEN 0 THEN 'pure_text'
                      WHEN 1 THEN 'pure_image' WHEN 2 THEN 'hybrid'
                      ELSE 'unknown' END AS pdf_type,
                 CAST(doc_id % 7 AS INT) + 1 AS total_pages,
                 (doc_id % 5 <> 0) AS has_ocr
               FROM documents),
             q AS (SELECT *,
                 CASE WHEN quality_in IN ('fast','balanced','accurate')
                      THEN quality_in ELSE 'balanced' END AS quality
               FROM base),
             st AS (SELECT *,
                 CASE WHEN NOT has_ocr THEN 'direct_only'
                      WHEN quality = 'fast' THEN 'direct_only'
                      WHEN pdf_type = 'pure_text' THEN 'direct_only'
                      WHEN pdf_type = 'pure_image' THEN 'ocr_all'
                      WHEN pdf_type = 'hybrid' THEN 'ocr_selective'
                      ELSE 'direct_only' END AS strategy
               FROM q),
             sel AS (SELECT *,
                 CASE strategy
                   WHEN 'direct_only' THEN range(1, total_pages + 1)
                   WHEN 'ocr_all' THEN []
                   ELSE list_sort(
                     [p FOR p IN range(1, total_pages + 1) IF (doc_id + p) % 3 = 0] ||
                     CASE WHEN quality = 'accurate' THEN []
                          ELSE [p FOR p IN range(1, total_pages + 1) IF (doc_id + p) % 3 = 2] END)
                 END AS dl,
                 CASE strategy
                   WHEN 'direct_only' THEN []
                   WHEN 'ocr_all' THEN range(1, total_pages + 1)
                   ELSE list_sort(
                     [p FOR p IN range(1, total_pages + 1) IF (doc_id + p) % 3 = 1] ||
                     CASE WHEN quality = 'accurate'
                          THEN [p FOR p IN range(1, total_pages + 1) IF (doc_id + p) % 3 = 2]
                          ELSE [] END)
                 END AS ol
               FROM st),
             n AS (SELECT *, CAST(len(dl) AS INT) AS n_direct, CAST(len(ol) AS INT) AS n_ocr FROM sel)
             SELECT doc_id, pdf_type, quality_in, quality, has_ocr, strategy,
                    total_pages, n_direct, n_ocr,
                    -- array_to_string is NULL (not '') on empty lists
                    coalesce(array_to_string(dl, ','), '') AS direct_pages,
                    coalesce(array_to_string(ol, ','), '') AS ocr_pages,
                    round(n_ocr * 0.005, 6) AS est_cost,
                    round(n_ocr * 3.0 + n_direct * 0.1, 6) AS est_time_s,
                    'PDF type: ' || pdf_type || ' | Quality: ' || quality ||
                    ' | Strategy: ' || strategy ||
                    CASE WHEN n_direct > 0 THEN ' | ' ||
                      CASE WHEN n_direct <= 5
                           THEN 'Direct extraction: pages [' || array_to_string(dl, ', ') || ']'
                           ELSE 'Direct extraction: ' || n_direct || ' pages' END
                      ELSE '' END ||
                    CASE WHEN n_ocr > 0 THEN ' | ' ||
                      CASE WHEN n_ocr <= 5
                           THEN 'OCR extraction: pages [' || array_to_string(ol, ', ') || ']'
                           ELSE 'OCR extraction: ' || n_ocr || ' pages' END
                      ELSE '' END ||
                    CASE WHEN n_ocr = 0 THEN ' | No OCR required' ELSE '' END AS reasoning
             FROM n ORDER BY doc_id""")),

    // ---- Skew-safe per-key exact-distinct statistics (SURVEY §7.5 risk
    // 4): at 10^12 rows a hot key (PageGen's Zipf host0 is ≈7% of the
    // corpus; here the busiest event users) would overload one reducer
    // in a naive collect_set. Two-phase salted aggregation: phase 1
    // groups on (key, salt = pmod(xxhash64(row-id), 16)) so a hot key
    // spreads over 16 reducers and distinct-sets stay small; phase 2
    // merges the 16 partial sets per key. Algebraic aggs (count/sum)
    // don't need this (map-side combine already handles skew) — distinct
    // COLLECTION does. Oracle = the direct unsalted count(DISTINCT …):
    // green hash proves the salted two-phase form is exactly equivalent.
    ("q47_user_stats_salted",
      (s, d) => {
        val ev = QueryUtil.tbl(s, d, "events")
        val phase1 = ev
          .groupBy(col("user_id"), pmod(xxhash64(col("event_id")), lit(16)).as("salt"))
          .agg(collect_set(col("event_type")).as("types"), count(lit(1)).as("n"))
        phase1
          .groupBy("user_id")
          .agg(size(array_distinct(flatten(collect_list(col("types"))))).as("n_types"),
               sum("n").as("n_events"))
          .orderBy(col("n_events").desc, col("user_id"))
          .limit(20)
      },
      Some("""SELECT user_id,
               CAST(count(DISTINCT event_type) AS INT) AS n_types,
               CAST(count(*) AS BIGINT) AS n_events
             FROM events GROUP BY user_id
             ORDER BY n_events DESC, user_id LIMIT 20""")),

    // ---- Unconditional main-content extraction (the north-star web
    // surface): boilerplate stripped from EVERY page, not only the
    // OCR-routed ones — see extract.MainContent.
    ("x51_main_content",
      (s, _) => {
        import s.implicits._
        pages(s, 1500).mapPartitions(_.map(graft.extract.MainContent.extract))
          .toDF()
          .select(col("url"), col("total_pages"), col("word_count"),
            round(col("removed_ratio"), 6).as("removed_ratio"), col("success"))
          .orderBy("url")
      }, None),

    // ---- The kernel stage over a stored pages table: the same results
    // as x40, read from parquet, where the stage's url/html/lang
    // projection keeps the unused legacy text and warc_ts columns out of
    // the scan's ReadSchema. Each call writes the table into a fresh
    // session scratch dir.
    ("x50_extract_operator",
      (s, _) => {
        val dir = QueryUtil.scratchDir(s, "x50_pages")
        pages(s, 1200).toDF().repartition(4).write.mode("overwrite").parquet(dir)
        ExtractJob.extractKernel(s.read.parquet(dir), "balanced")
          .select("url", "pdf_type", "total_pages", "word_count",
            "extraction_method", "confidence", "success")
          .orderBy("url")
      }, None),

    // ---- K6 two-pass cascade (app.TwoPass): per document, the cheap
    // `fast` extraction, then the `accurate` one if pass 1 is flagged
    // (failed / empty / below-full confidence), better result kept, all
    // inside the one kernel stage. Pass-1 output selecting pass-2's
    // input IS the reference's enrich-then-reprocess shape
    // (two_pass_ocr_processor_original.py:225-324) minus its
    // out-of-scope LLM prompt. Deterministic but not SQL-expressible
    // (kernel) → rows-only check here; semantics pinned by TwoPassSpec.
    ("x64_two_pass",
      (s, _) => graft.app.TwoPass.extract(pages(s, 900))
        .select("url", "pass", "pdf_type", "word_count", "confidence", "success")
        .orderBy("url"),
      None),

    // ---- WAT-style link records (crawl-graph construction — Common
    // Crawl ships exactly this as the WAT sidecar): every HTML page →
    // (resolved target, anchor text) via the tokenizer with <a>
    // attribute retention ON (html.Links; the kernel's img-only fast
    // path pays nothing), aggregated into the anchor-text table per
    // target path. This is the stage that PRODUCES the host graph
    // q89's PageRank consumes. Deterministic but not SQL-expressible
    // (real HTML parsing) → rows-only here; exact values pinned by
    // LinksSpec. Scale shape: map-only 1→N flatMap (payload never
    // shuffles), then one partial-agg exchange on the (path, anchor)
    // key — at 10^12 pages the production keying is dst_host for graph
    // building, same single-exchange shape.
    ("x65_link_records",
      (s, _) =>
        linkRecords(pages(s, 1200))
          .withColumn("path", linkPath(col("target")))
          .withColumn("src_host", regexp_extract(col("src_url"), "^https?://([^/]+)", 1))
          .groupBy("path", "anchor")
          .agg(count(lit(1)).as("n_links"),
            countDistinct("src_host").as("n_hosts"))
          .orderBy("path", "anchor"),
      None),

    // ---- Multimodal binary kernel: opaque payload bytes → typed
    // metadata via the per-partition header decoder (real container
    // parsing, graft.media.ImageHeaders). Input is the page corpus
    // UNIONed with a deterministic synthetic image table (PNG/JPEG/GIF/
    // BMP/TIFF headers carrying true dimensions), so the image branch is
    // exercised, not just classified.
    ("x46_multimodal_kernel",
      (s, _) => {
        import s.implicits._
        val docs = pages(s, 1000)
          .select(col("url"), col("html")).as[(String, Array[Byte])]
        val imgs = s.range(0, 500).map { id =>
          (s"img://media/$id", graft.media.MediaGen.imageFor(id)._2)
        }
        docs.union(imgs)
          .mapPartitions(_.map { case (u, b) => decodeMedia(u, b) })
          .groupBy("magic", "media_kind")
          .agg(count(lit(1)).as("n"),
               sum("n_bytes").as("total_bytes"),
               min("width").as("min_w"), max("width").as("max_w"),
               min("height").as("min_h"), max("height").as("max_h"))
          .orderBy("magic", "media_kind")
      }, None),

    // ---- Image-header decode, oracle-checked (the x46 kernel's image
    // branch as a hard cross-engine guarantee): the Spark side parses
    // REAL container bytes (graft.media.ImageHeaders — PNG big-endian
    // IHDR, JPEG SOFn marker scan, GIF screen descriptor, BMP
    // BITMAPINFOHEADER, TIFF IFD walk); the DuckDB side never sees a
    // byte — it re-derives MediaGen.imageFor's generator contract
    // (format = id%5, dims = (mix64(id^K) & 0x3ff)+16, fixed container
    // overhead per format) from first principles, q43-style. A green
    // hash proves the byte writer and the byte parser agree with the
    // arithmetic spec on every one of the 500 payloads.
    ("q46_image_dims",
      (s, _) => {
        import s.implicits._
        s.range(0, 500)
          .map { id =>
            val (_, bytes) = graft.media.MediaGen.imageFor(id)
            (id, bytes)
          }
          .mapPartitions(_.map { case (id, b) =>
            val d = graft.media.ImageHeaders.decode(b)
              .getOrElse(sys.error(s"undecodable synthetic image $id"))
            (d.format, b.length.toLong, d.width, d.height)
          })
          .toDF("format", "n_bytes", "width", "height")
          .groupBy("format")
          .agg(count(lit(1)).as("n"),
               sum("n_bytes").as("total_bytes"),
               min("width").as("min_w"), max("width").as("max_w"),
               min("height").as("min_h"), max("height").as("max_h"),
               sum(col("width").cast("long")).as("sum_w"),
               sum(col("height").cast("long")).as("sum_h"))
          .orderBy("format")
      },
      Some(s"""WITH ids AS MATERIALIZED (SELECT unnest(range(0, 500)) AS id),
             -- splitmix64 finalizer (PageGen.mix64) of id^0x77 → width
             w1 AS MATERIALIZED (
               SELECT *,
                 ${PageGen.mix64Sql("CAST(xor(id, 119) AS UBIGINT)", "w")(x => s"CAST(($x & 1023) + 16 AS INT) AS w")}
               FROM ids),
             -- and of id^0x68 → height
             h1 AS MATERIALIZED (
               SELECT *,
                 ${PageGen.mix64Sql("CAST(xor(id, 104) AS UBIGINT)", "h")(x => s"CAST(($x & 1023) + 16 AS INT) AS h")}
               FROM w1),
             img AS (
               SELECT
                 CASE CAST(id % 5 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                      WHEN 2 THEN 'gif' WHEN 3 THEN 'bmp' ELSE 'tiff' END AS format,
                 -- fixed container overhead per format (MediaGen writers:
                 -- header + dims + deterministic body of constant size)
                 CASE CAST(id % 5 AS INT) WHEN 0 THEN 97 WHEN 1 THEN 82
                      WHEN 2 THEN 45 WHEN 3 THEN 118 ELSE 70 END AS n_bytes,
                 w, h
               FROM h1)
             SELECT format, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
                    CAST(min(w) AS INT) AS min_w, CAST(max(w) AS INT) AS max_w,
                    CAST(min(h) AS INT) AS min_h, CAST(max(h) AS INT) AS max_h,
                    CAST(sum(w) AS BIGINT) AS sum_w, CAST(sum(h) AS BIGINT) AS sum_h
             FROM img GROUP BY format ORDER BY format""")),

    // ---- Time-based media features: audio chunking + frame sampling
    // over real container structure (graft.media.MediaStreams — RIFF/
    // WAVE chunk walk, GIF frame-block walk; framing only, the encoded
    // signal is never decoded). The kernel explodes each payload into
    // its chunk/frame rows — the 1→N per-feature shape — then rolls up
    // per kind; exact per-payload values are pinned by MediaStreamsSpec.
    // Oracle-matched (was rows-only x52): DuckDB re-derives the
    // generator contract — wavFor's rate/channels/duration arithmetic
    // through the RIFF writer's block-aligned data-size truncation and
    // the parser's floor-division duration, then ceil(dur/500ms)
    // chunking; gifAnimFor's frame count through every-4th sampling —
    // so the green hash pins writer, byte-walker, and chunker against
    // the arithmetic spec on all 400 payloads.
    ("q52_media_features",
      (s, _) => {
        import s.implicits._
        val audio = s.range(0, 200)
          .map(id => (s"audio://a/$id", graft.media.MediaGen.wavFor(id)))
        val video = s.range(0, 200)
          .map(id => (s"video://g/$id", graft.media.MediaGen.gifAnimFor(id)))
        audio.union(video)
          .mapPartitions(_.flatMap { case (u, bytes) =>
            if (u.startsWith("audio://"))
              graft.media.MediaStreams.wav(bytes).toSeq.flatMap { info =>
                graft.media.MediaStreams.audioChunks(info, 500L).map {
                  case (i, st, d) => MediaFeature(u, "audio_chunk", i, st, d)
                }
              }
            else
              graft.media.MediaStreams.gifFrameCount(bytes).toSeq.flatMap { n =>
                graft.media.MediaStreams.sampleFrames(n, 4)
                  .map(f => MediaFeature(u, "frame_sample", f, 0L, 0L))
              }
          })
          .groupBy("kind")
          .agg(countDistinct("url").as("n_docs"),
               count(lit(1)).as("n_features"),
               sum("dur_ms").as("total_ms"),
               max("idx").as("max_idx"))
          .orderBy("kind")
      },
      Some(s"""WITH ids AS MATERIALIZED (SELECT unnest(range(0, 200)) AS id),
             -- mix64(id^0xa1) → sample-rate pick, mix64(id^0xb2) →
             -- channels, mix64(id^0xc3) → requested duration (wavFor)
             ra AS MATERIALIZED (
               SELECT *,
                 ${PageGen.mix64Sql("CAST(xor(id, 161) AS UBIGINT)", "a")(_ + " & 3 AS rate_idx")}
               FROM ids),
             rb AS MATERIALIZED (
               SELECT *,
                 ${PageGen.mix64Sql("CAST(xor(id, 178) AS UBIGINT)", "b")(x => s"1 + CAST($x & 1 AS BIGINT) AS channels")}
               FROM ra),
             rc AS MATERIALIZED (
               SELECT *,
                 ${PageGen.mix64Sql("CAST(xor(id, 195) AS UBIGINT)", "c")(x => s"200 + CAST($x & 2047 AS BIGINT) AS req_ms")}
               FROM rb),
             au AS (
               SELECT id, channels, req_ms,
                 CASE CAST(rate_idx AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 11025
                      WHEN 2 THEN 16000 ELSE 22050 END AS rate
               FROM rc),
             -- RIFF writer: dataSize = byteRate*reqMs/1000 floored to
             -- blockAlign; parser: durationMs = dataSize*1000/byteRate
             au2 AS (
               SELECT id,
                 ((rate * channels * req_ms // 1000) // channels * channels)
                   * 1000 // (rate * channels) AS dur_ms
               FROM au),
             au3 AS (
               SELECT id, dur_ms, (dur_ms + 499) // 500 AS n_chunks
               FROM au2 WHERE dur_ms > 0),
             -- gifAnimFor: frames = 1 + (mix64(id^0xd4) & 31); sample
             -- every 4th frame starting at 0
             vd AS MATERIALIZED (
               SELECT *,
                 ${PageGen.mix64Sql("CAST(xor(id, 212) AS UBIGINT)", "d")(x => s"1 + CAST($x & 31 AS BIGINT) AS frames")}
               FROM ids)
             SELECT 'audio_chunk' AS kind,
                    CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(n_chunks) AS BIGINT) AS n_features,
                    CAST(sum(dur_ms) AS BIGINT) AS total_ms,
                    CAST(max(n_chunks) - 1 AS INT) AS max_idx
             FROM au3
             UNION ALL
             SELECT 'frame_sample' AS kind,
                    CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum((frames - 1) // 4 + 1) AS BIGINT) AS n_features,
                    CAST(0 AS BIGINT) AS total_ms,
                    CAST(max((frames - 1) // 4 * 4) AS INT) AS max_idx
             FROM vd
             ORDER BY kind"""))
  )
}
