package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.core.{GraftSession, Tables}
import graft.text.TextAnalysis
import graft.multimodal.BinaryPipeline

/** Oracle-checked queries for the text-analysis + multimodal operators
  * over the `documents` corpus. */
object TextQueries extends graft.QueryModule {

  /** Token counting: whitespace + BPE-ish regex. */
  def textTokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("n_ws_tokens"),
        TextAnalysis.tokenCountBpe(col("text")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  val tokenSql: String =
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Language id via stopword profiles + agreement with the labeled
    * lang column. */
  def textLangId(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")
  val langSql: String = {
    val scores = TextAnalysis.langProfiles.map { case (lang, pat) =>
      lang -> s"len(regexp_extract_all(text, '$pat'))"
    }
    val best = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    val caseExpr = scores.map { case (lang, s) =>
      s"WHEN $s = __best AND __best > 0 THEN '$lang'"
    }.mkString(" ")
    s"""SELECT doc_id, lang,
       |  CASE $caseExpr ELSE NULL END AS lang_pred
       |FROM (SELECT *, $best AS __best FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Language-ID confusion matrix: predictions vs the gold `lang`
    * column, counted per (gold, pred) cell — the eval view that tells
    * a pipeline WHERE its router mislabels (which gold language leaks
    * into which prediction), not just how often. Unpredicted docs
    * land in the '__none' cell. */
  def textLangConfusion(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang").as("gold"),
        coalesce(TextAnalysis.langId(col("text")), lit("__none")).as("pred"))
      .groupBy("gold", "pred").agg(count(lit(1)).as("n"))
      .orderBy("gold", "pred")
  val langConfusionSql: String = {
    val scores = TextAnalysis.langProfiles.map { case (lang, pat) =>
      lang -> s"len(regexp_extract_all(text, '$pat'))"
    }
    val best = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    val caseExpr = scores.map { case (lang, s) =>
      s"WHEN $s = __best AND __best > 0 THEN '$lang'"
    }.mkString(" ")
    s"""SELECT lang AS gold,
       |  coalesce(CASE $caseExpr ELSE NULL END, '__none') AS pred,
       |  count(*) AS n
       |FROM (SELECT *, $best AS __best FROM documents) t
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Boilerplate ratio per source: the share of a document's lines
    * that are CORPUS-COMMON (the exact line appears in > 10
    * documents) — the RefinedWeb-style template signal that separates
    * navigation/footer boilerplate from body text, aggregated per
    * source so the gate exposes which sources are template-heavy.
    * Line frequencies are one (line → doc-count) reduction; the
    * per-doc ratio joins them back through an explode. */
  def textBoilerplateRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        expr("filter(split(text, '\\\\.'), x -> trim(x) != '')").as("lines"))
    val lineDf = docs
      .select(col("doc_id"), explode(col("lines")).as("line"))
      .distinct()
      .groupBy("line").agg(count(lit(1)).as("docs_with"))
    val perDoc = docs
      .select(col("doc_id"), col("source"), explode(col("lines")).as("line"))
      .join(lineDf, "line")
      .groupBy("doc_id", "source")
      .agg((sum((col("docs_with") > 10).cast("long")) /
        count(lit(1)).cast("double")).as("ratio"))
    perDoc.groupBy("source")
      .agg(round(avg("ratio"), 4).as("avg_boilerplate"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")
  }
  val boilerplateSql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split(text, '.'), x -> trim(x) <> '') AS lines
      |  FROM documents),
      |lf AS (
      |  SELECT line, count(*) AS docs_with FROM (
      |    SELECT DISTINCT doc_id, unnest(lines) AS line FROM d)
      |  GROUP BY 1),
      |pd AS (
      |  SELECT e.doc_id, e.source,
      |    CAST(sum(CASE WHEN lf.docs_with > 10 THEN 1 ELSE 0 END) AS DOUBLE)
      |      / count(*) AS ratio
      |  FROM (SELECT doc_id, source, unnest(lines) AS line FROM d) e
      |  JOIN lf USING (line)
      |  GROUP BY 1, 2)
      |SELECT source, round(avg(ratio), 4) AS avg_boilerplate,
      |  count(*) AS n_docs
      |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin

  /** Quality scoring (fixed-order double formula). */
  def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  val qualitySql: String =
    """SELECT doc_id, round(
      |  0.3 * least(1.0, CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 100.0)
      |  + 0.4 * (CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS DOUBLE)
      |      / (CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) + 1.0))
      |  + 0.3 * (1.0 - least(1.0, CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |      / (CAST(length(text) AS DOUBLE) + 1.0))), 6) AS quality
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Fingerprints: canonical md5 + position-weighted integer. */
  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"),
        TextAnalysis.positionalFingerprint(
          graft.dedup.Shingles.tokens(col("text"))).as("fp_pos"))
      .orderBy("doc_id")
  val fingerprintSql: String =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5,
      |  CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
      |    (t, i) -> (ascii(t) + length(t)) * ((i * 2654435761) % 1000003)))
      |    AS BIGINT) AS fp_pos
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Context-window chunking, sliding grid: doc → overlapping
    * 32-token windows at stride 24 (fan-out one row per chunk). The
    * chunker is a zero-shuffle per-row array program (text.Chunker);
    * the orderBy here is gate determinism only. */
  def textChunkSliding(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.text.Chunker.slidingChunks(col("text"), 32, 24)).as("ch"))
      .select(col("doc_id"), col("ch.chunk_idx").as("chunk_idx"),
        col("ch.chunk_text").as("chunk_text"),
        col("ch.n_tokens").as("n_tokens"))
      .orderBy("doc_id", "chunk_idx")
  val chunkSlidingSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |           FROM documents),
      |c AS (SELECT doc_id, toks,
      |        unnest(generate_series(0,
      |          CASE WHEN len(toks) <= 32 THEN 0
      |               ELSE CAST(ceil((len(toks) - 32) / 24.0) AS INT) END))
      |          AS chunk_idx
      |      FROM t)
      |SELECT doc_id, chunk_idx,
      |  array_to_string(list_slice(toks, chunk_idx*24 + 1, chunk_idx*24 + 32), ' ')
      |    AS chunk_text,
      |  len(list_slice(toks, chunk_idx*24 + 1, chunk_idx*24 + 32)) AS n_tokens
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** Context-window chunking, boundary-aligned packing: sentences
    * bucketed into ≤24-token chunks without ever splitting inside a
    * sentence. The driver corpus carries no punctuation, so the gate
    * exercises the packer with a token-suffix boundary (`(e)\s+` —
    * any word ending in 'e' ends a "sentence"), which yields genuine
    * multi-sentence structure on this data; production use passes the
    * default `([.!?])\s+`. ChunkerSpec covers the punctuation path. */
  def textChunkPack(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.text.Chunker.sentencePack(
          col("text"), 24, "(e)\\s+")).as("ch"))
      .select(col("doc_id"), col("ch.chunk_idx").as("chunk_idx"),
        col("ch.chunk_text").as("chunk_text"),
        col("ch.n_tokens").as("n_tokens"))
      .orderBy("doc_id", "chunk_idx")
  val chunkPackSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    list_filter(
      |      string_split(regexp_replace(text, '(e)\s+', '\1' || chr(1), 'g'),
      |                   chr(1)),
      |      x -> len(trim(x)) > 0) AS sents
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, u.i AS i, u.sent AS sent,
      |    len(string_split_regex(trim(u.sent), '\s+')) AS ntok
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(sents,
      |            (x, i) -> struct_pack(i := i, sent := x))) AS u
      |        FROM s)),
      |w AS (
      |  SELECT doc_id, i, sent, ntok,
      |    sum(ntok) OVER (PARTITION BY doc_id ORDER BY i) AS cum
      |  FROM e)
      |SELECT doc_id, chunk_idx,
      |  string_agg(sent, ' ' ORDER BY i) AS chunk_text,
      |  CAST(sum(ntok) AS INT) AS n_tokens
      |FROM (SELECT doc_id, i, sent, ntok,
      |        CAST(floor((cum - ntok) / 24.0) AS INT) AS chunk_idx FROM w)
      |GROUP BY doc_id, chunk_idx
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Multimodal plumbing: binary payload + metadata → batched stub
    * decode → typed features. */
  def mmDecodeStub(spark: SparkSession, sfDir: String): DataFrame = {
    val payloads = BinaryPipeline.withPayload(
      Tables.documents(spark, sfDir), "doc_id", "text")
    BinaryPipeline.decode(payloads)
      .orderBy("doc_id")
  }
  val mmSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  CAST(length(text) AS BIGINT) AS n_bytes,
      |  CAST((length(text) * 7) % 640 AS INT) AS width,
      |  CAST((length(text) * 13) % 480 AS INT) AS height,
      |  CAST(length(text) % 30 AS INT) AS n_frames,
      |  CAST(list_sum(list_transform(generate_series(1, least(64, length(text))),
      |    i -> ascii(text[i]) * i)) AS BIGINT) AS checksum
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Multimodal resize stage: aspect-preserving downscale to a 256×144
    * box — pure Column math over the decoded features. */
  def mmResize(spark: SparkSession, sfDir: String): DataFrame = {
    val payloads = BinaryPipeline.withPayload(
      Tables.documents(spark, sfDir), "doc_id", "text")
    BinaryPipeline.resizePlan(
      BinaryPipeline.decode(payloads), maxW = 256, maxH = 144)
      .orderBy("doc_id")
  }
  val mmResizeSql: String =
    """WITH d AS (SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  CAST((length(text) * 7) % 640 AS INT) AS width,
      |  CAST((length(text) * 13) % 480 AS INT) AS height
      |  FROM documents)
      |SELECT doc_id, media_type, width, height,
      |  GREATEST(1, CAST(FLOOR(width * LEAST(256.0 / width, 144.0 / height, 1.0)) AS INT)) AS out_width,
      |  GREATEST(1, CAST(FLOOR(height * LEAST(256.0 / width, 144.0 / height, 1.0)) AS INT)) AS out_height
      |FROM d WHERE width > 0 AND height > 0
      |ORDER BY doc_id""".stripMargin

  /** REAL image decode: deterministic grayscale PNG test patterns
    * (pixel = f(doc_id, x, y), SyntheticImages) round-tripped through
    * javax.imageio. PNG is lossless, so the decoded dimensions and
    * pixel checksum must equal the pattern arithmetic the oracle
    * computes closed-form — the oracle verifies REAL pixel output
    * without owning a codec. Encoder byte size is deliberately not
    * part of the contract (n_bytes excluded). */
  def mmDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = Tables.documents(spark, sfDir).select("doc_id")
    val payloads = graft.multimodal.SyntheticImages.withPngPayload(ids)
    BinaryPipeline.decodeImages(payloads)
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("n_frames"), col("checksum"))
      .orderBy("doc_id")
  }
  val mmDecodeSql: String =
    """WITH px AS (
      |  SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
      |  FROM documents)
      |SELECT doc_id, 'image/png' AS media_type, CAST(w AS INT) AS width,
      |  CAST(h AS INT) AS height, 1 AS n_frames,
      |  CAST(list_sum(list_transform(generate_series(0, w * h - 1),
      |    i -> ((doc_id + 3 * (i % w) + 7 * (i // w)) % 256) * (i + 1)))
      |    AS BIGINT) AS checksum
      |FROM px ORDER BY doc_id""".stripMargin

  /** REAL audio decode: deterministic 16-bit mono PCM test signals
    * (sample = f(doc_id, i), SyntheticAudio) round-tripped through
    * javax.sound.sampled's WAV codec. PCM is lossless, so the decoded
    * format fields and sample checksum must equal the signal
    * arithmetic the oracle computes closed-form — the oracle verifies
    * REAL sample output without owning a codec. Container byte size
    * is deliberately not part of the contract (n_bytes excluded). */
  def mmAudioDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = Tables.documents(spark, sfDir).select("doc_id")
    val payloads = graft.multimodal.SyntheticAudio.withWavPayload(ids)
    graft.multimodal.AudioPipeline.decodeAudio(payloads)
      .select(col("doc_id"), col("media_type"), col("sample_rate"),
        col("channels"), col("bits"), col("n_samples"), col("checksum"))
      .orderBy("doc_id")
  }
  val mmAudioDecodeSql: String =
    """WITH sig AS (
      |  SELECT doc_id, 400 + doc_id % 200 AS n,
      |    8000 + (doc_id % 3) * 4000 AS rate
      |  FROM documents)
      |SELECT doc_id, 'audio/wav' AS media_type, CAST(rate AS INT) AS sample_rate,
      |  1 AS channels, 16 AS bits, CAST(n AS BIGINT) AS n_samples,
      |  CAST(list_sum(list_transform(generate_series(0, n - 1),
      |    i -> ((doc_id * 31 + i * 17) % 4096 - 2048) * (i + 1)))
      |    AS BIGINT) AS checksum
      |FROM sig ORDER BY doc_id""".stripMargin

  /** REAL video decode: deterministic uncompressed-DIB AVI test clips
    * (pixel = f(doc_id, frame, x, y), SyntheticVideo) round-tripped
    * through the direct RIFF/AVI parser. DIB is lossless, so decoded
    * dims/fps/frame-count and the frame-weighted pixel checksum must
    * equal the pattern arithmetic the oracle computes closed-form.
    * Container byte size is not part of the contract. */
  def mmVideoDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = Tables.documents(spark, sfDir).select("doc_id")
    val payloads = graft.multimodal.SyntheticVideo.withAviPayload(ids)
    graft.multimodal.VideoPipeline.decodeVideo(payloads)
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("fps"), col("n_frames"), col("checksum"))
      .orderBy("doc_id")
  }
  val mmVideoDecodeSql: String =
    """WITH v AS (
      |  SELECT doc_id, 16 + 4 * (doc_id % 4) AS w, 8 + doc_id % 8 AS h,
      |    4 + doc_id % 6 AS nf, 10 + doc_id % 5 AS fps
      |  FROM documents)
      |SELECT doc_id, 'video/avi' AS media_type, CAST(w AS INT) AS width,
      |  CAST(h AS INT) AS height, CAST(fps AS INT) AS fps,
      |  CAST(nf AS INT) AS n_frames,
      |  CAST(list_sum(list_transform(generate_series(0, nf - 1), f -> (f + 1) *
      |    list_sum(list_transform(generate_series(0, w * h - 1),
      |      i -> ((doc_id + 11 * f + 3 * (i % w) + 7 * (i // w)) % 256) * (i + 1)))))
      |    AS BIGINT) AS checksum
      |FROM v ORDER BY doc_id""".stripMargin

  /** REAL frame extraction: every 2nd frame of each decoded clip as
    * its own row with a per-frame pixel checksum and timestamp — the
    * real-decode version of the stub frame sampler. */
  def mmVideoFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = Tables.documents(spark, sfDir).select("doc_id")
    val payloads = graft.multimodal.SyntheticVideo.withAviPayload(ids)
    graft.multimodal.VideoPipeline.decodeFrames(payloads, everyN = 2)
      .orderBy("doc_id", "frame_idx")
  }
  val mmVideoFramesSql: String =
    """WITH v AS (
      |  SELECT doc_id, 16 + 4 * (doc_id % 4) AS w, 8 + doc_id % 8 AS h,
      |    4 + doc_id % 6 AS nf, 10 + doc_id % 5 AS fps
      |  FROM documents),
      |fr AS (
      |  SELECT doc_id, w, h, fps, unnest(generate_series(0, nf - 1, 2)) AS f
      |  FROM v)
      |SELECT doc_id, CAST(f AS INT) AS frame_idx,
      |  round(CAST(f AS DOUBLE) / fps, 6) AS frame_ts,
      |  CAST(list_sum(list_transform(generate_series(0, w * h - 1),
      |    i -> ((doc_id + 11 * f + 3 * (i % w) + 7 * (i // w)) % 256) * (i + 1)))
      |    AS BIGINT) AS frame_checksum
      |FROM fr ORDER BY doc_id, frame_idx""".stripMargin

  /** MJPG (JPEG-in-AVI) decode through the real ImageIO codec: exact
    * container metadata plus a BOUNDED per-pixel fidelity check — the
    * lossy-codec contract (a checksum gate like mm_video_decode's
    * would pin encoder internals, not decode correctness). pix_ok
    * folds the measured max abs error against the closed-form pattern
    * into a boolean at the spec'd bound (≤ 8; observed 0 at encoder
    * quality 1.0), which the oracle replays as TRUE — so any clip
    * drifting past the bound, failing to decode (max_err = −1), or
    * decoding to wrong dims flips the hash. */
  def mmVideoMjpg(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = Tables.documents(spark, sfDir).select("doc_id")
    val payloads = graft.multimodal.SyntheticVideo.withMjpgPayload(ids)
    graft.multimodal.VideoPipeline
      .decodeFidelity(payloads, graft.multimodal.SyntheticVideo.mjpgPixel)
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("fps"), col("n_frames"),
        (col("max_err") >= 0 && col("max_err") <= 8).as("pix_ok"))
      .orderBy("doc_id")
  }
  val mmVideoMjpgSql: String =
    """SELECT doc_id, 'video/avi' AS media_type,
      |  CAST(16 + 4 * (doc_id % 4) AS INT) AS width,
      |  CAST(8 + doc_id % 8 AS INT) AS height,
      |  CAST(10 + doc_id % 5 AS INT) AS fps,
      |  CAST(4 + doc_id % 6 AS INT) AS n_frames,
      |  TRUE AS pix_ok
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Real decode feeding the resize stage: the decoded (not claimed)
    * dimensions drive the aspect-preserving downscale. */
  def mmDecodeResize(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = Tables.documents(spark, sfDir).select("doc_id")
    val payloads = graft.multimodal.SyntheticImages.withPngPayload(ids)
    BinaryPipeline.resizePlan(
        BinaryPipeline.decodeImages(payloads),
        maxW = 20, maxH = 10)
      .orderBy("doc_id")
  }
  val mmDecodeResizeSql: String =
    """WITH px AS (
      |  SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
      |  FROM documents)
      |SELECT doc_id, 'image/png' AS media_type,
      |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  GREATEST(1, CAST(FLOOR(w * LEAST(20.0 / w, 10.0 / h, 1.0)) AS INT)) AS out_width,
      |  GREATEST(1, CAST(FLOOR(h * LEAST(20.0 / w, 10.0 / h, 1.0)) AS INT)) AS out_height
      |FROM px ORDER BY doc_id""".stripMargin

  /** Real decode feeding the perceptual hash: 8×8 grid average-hash
    * over the DECODED luminance raster (integer-exact mean compare),
    * oracle-replayed from the pattern arithmetic. */
  def mmPhashDecoded(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = Tables.documents(spark, sfDir).select("doc_id")
    val payloads = graft.multimodal.SyntheticImages.withPngPayload(ids)
    graft.multimodal.Phash.signaturesFromImages(payloads)
      .orderBy("doc_id")
  }
  val mmPhashDecodedSql: String =
    """WITH px AS (
      |  SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
      |  FROM documents),
      |pix AS (
      |  SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS i
      |  FROM px),
      |p AS (
      |  SELECT doc_id,
      |    ((i % w) * 8) // w AS cx, ((i // w) * 8) // h AS cy,
      |    (doc_id + 3 * (i % w) + 7 * (i // w)) % 256 AS v
      |  FROM pix),
      |cells AS (
      |  SELECT doc_id, cy * 8 + cx AS cell, sum(v) AS s, count(*) AS c,
      |    sum(sum(v)) OVER (PARTITION BY doc_id) AS ts,
      |    sum(count(*)) OVER (PARTITION BY doc_id) AS n
      |  FROM p GROUP BY doc_id, cy * 8 + cx),
      |sig AS (
      |  SELECT doc_id, sum(CASE WHEN s * n > ts * c
      |    THEN (1::HUGEINT << CAST(cell AS INT)) ELSE 0::HUGEINT END) AS su
      |  FROM cells GROUP BY doc_id)
      |SELECT doc_id, CAST(CASE WHEN su >= 9223372036854775808
      |  THEN su - 18446744073709551616 ELSE su END AS BIGINT) AS phash
      |FROM sig ORDER BY doc_id""".stripMargin

  /** Gopher rule filter: per-doc rule metrics + keep/drop verdict. */
  def textGopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val m = graft.text.TextAnalysis.gopherMetrics(col("text"))
    graft.core.Parallelism.widen(Tables.documents(spark, sfDir))
      .select(col("doc_id"), m.as("m"))
      .select(col("doc_id"), col("m.n_words"), col("m.mean_word_len"),
        col("m.symbol_word_ratio"), col("m.hash_char_ratio"),
        graft.text.TextAnalysis.gopherPass(col("m")).as("gopher_pass"))
      .orderBy("doc_id")
  }
  val gopherSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks, text
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    len(toks) AS n_words,
      |    round(CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
      |      / len(toks), 6) AS mean_word_len,
      |    round(CAST(len(list_filter(toks,
      |        w -> regexp_matches(w, '^[^A-Za-z0-9]+$'))) AS DOUBLE)
      |      / len(toks), 6) AS symbol_word_ratio,
      |    round(CAST(length(text) - length(regexp_replace(text, '#', '', 'g'))
      |        AS DOUBLE) / greatest(length(text), 1), 6) AS hash_char_ratio
      |  FROM t)
      |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, hash_char_ratio,
      |  (n_words BETWEEN 50 AND 100000
      |   AND mean_word_len BETWEEN 3.0 AND 10.0
      |   AND symbol_word_ratio <= 0.1) AS gopher_pass
      |FROM m ORDER BY doc_id""".stripMargin

  /** Bigram PMI collocations (multi-word-expression detection /
    * merge-candidate QA): map-side pair expansion from each doc's
    * token array — no positional self-join of the token stream — with
    * vocabulary-sized count joins, all broadcast. The oracle
    * recomputes unigram/bigram probabilities and the identical
    * double-arithmetic PMI expression in DuckDB. */
  /** Dunning G² collocations over the corpus bigram stream — the
    * evidence-weighted companion to text_pmi (see
    * [[graft.text.Collocations.bigramLlr]] for the 2×2 contingency
    * algebra and why G² doesn't share PMI's rare-pair bias). Same
    * map-side expansion + vocabulary-sized broadcast assembly. */
  def textCollocationsLlr(spark: SparkSession, sfDir: String): DataFrame =
    graft.text.Collocations.bigramLlr(
        Tables.documents(spark, sfDir), "text", minCount = 5)
      .orderBy("a", "b")
  val textCollocationsLlrSql: String =
    """WITH toks AS (
      |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> x <> '') AS t
      |  FROM documents),
      |pairs AS (
      |  SELECT t[i] AS a, t[i + 1] AS b
      |  FROM toks, LATERAL (
      |    SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
      |  WHERE len(t) >= 2),
      |bc AS (SELECT a, b, count(*) AS cab FROM pairs GROUP BY 1, 2),
      |ra AS (SELECT a, sum(cab) AS ca FROM bc GROUP BY 1),
      |cb AS (SELECT b, sum(cab) AS cb FROM bc GROUP BY 1),
      |nt AS (SELECT CAST(sum(cab) AS DOUBLE) AS n FROM bc)
      |SELECT bc.a, bc.b, bc.cab,
      |  round(2.0 * (
      |    (CASE WHEN bc.cab > 0 THEN CAST(bc.cab AS DOUBLE)
      |      * ln(CAST(bc.cab AS DOUBLE) * n
      |        / (CAST(ca AS DOUBLE) * CAST(cb.cb AS DOUBLE)))
      |      ELSE 0.0 END)
      |    + (CASE WHEN ca - bc.cab > 0 THEN CAST(ca - bc.cab AS DOUBLE)
      |      * ln(CAST(ca - bc.cab AS DOUBLE) * n
      |        / (CAST(ca AS DOUBLE) * (n - CAST(cb.cb AS DOUBLE))))
      |      ELSE 0.0 END)
      |    + (CASE WHEN cb.cb - bc.cab > 0
      |      THEN CAST(cb.cb - bc.cab AS DOUBLE)
      |      * ln(CAST(cb.cb - bc.cab AS DOUBLE) * n
      |        / ((n - CAST(ca AS DOUBLE)) * CAST(cb.cb AS DOUBLE)))
      |      ELSE 0.0 END)
      |    + (CASE WHEN n - ca - cb.cb + bc.cab > 0
      |      THEN (n - ca - cb.cb + bc.cab)
      |      * ln((n - ca - cb.cb + bc.cab) * n
      |        / ((n - CAST(ca AS DOUBLE)) * (n - CAST(cb.cb AS DOUBLE))))
      |      ELSE 0.0 END)), 4) + 0.0 AS llr
      |FROM bc JOIN ra ON bc.a = ra.a JOIN cb ON bc.b = cb.b
      |CROSS JOIN nt
      |WHERE bc.cab >= 5 ORDER BY bc.a, bc.b""".stripMargin

  def textPmi(spark: SparkSession, sfDir: String): DataFrame =
    graft.text.Collocations.bigramPmi(
        Tables.documents(spark, sfDir), "text", minCount = 5)
      .orderBy("a", "b")
  val textPmiSql: String =
    """WITH toks AS (
      |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> x <> '') AS t
      |  FROM documents),
      |u AS (SELECT unnest(t) AS w FROM toks),
      |uc AS (SELECT w, count(*) AS cw FROM u GROUP BY 1),
      |n1 AS (SELECT CAST(sum(cw) AS DOUBLE) AS n FROM uc),
      |pairs AS (
      |  SELECT t[i] AS a, t[i + 1] AS b
      |  FROM toks, LATERAL (
      |    SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
      |  WHERE len(t) >= 2),
      |bc AS (SELECT a, b, count(*) AS cab FROM pairs GROUP BY 1, 2),
      |n2 AS (SELECT CAST(sum(cab) AS DOUBLE) AS n FROM bc)
      |SELECT bc.a, bc.b, bc.cab,
      |  round(ln(CAST(bc.cab AS DOUBLE) * (SELECT n FROM n1)
      |      * (SELECT n FROM n1)
      |    / (CAST(ua.cw AS DOUBLE) * CAST(ub.cw AS DOUBLE)
      |      * (SELECT n FROM n2))), 4) + 0.0 AS pmi
      |FROM bc JOIN uc ua ON bc.a = ua.w JOIN uc ub ON bc.b = ub.w
      |WHERE bc.cab >= 5
      |ORDER BY bc.a, bc.b""".stripMargin

  /** Moving-average type-token ratio (MATTR, Covington & McFall 2010):
    * the lexical-diversity quality signal that, unlike plain TTR, does
    * not collapse with document length — the distinct-token ratio
    * averaged over every 25-token sliding window (whole-doc TTR below
    * the window width). A pure per-row array program: tokens never
    * leave their document, zero shuffle beyond the gate sort, and the
    * window loop is a codegen'd transform/aggregate pair. The oracle
    * replays the identical window algebra with DuckDB list lambdas
    * (both engines sum the per-window ratios left-to-right, so the
    * double is bit-identical before the 6dp round). */
  def textMattr(spark: SparkSession, sfDir: String): DataFrame = {
    val W = 25
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), x -> x != '')").as("t"))
      .withColumn("n", size(col("t")))
      .where(col("n") >= 1)
      .withColumn("mattr",
        when(col("n") < W,
          size(array_distinct(col("t"))).cast("double") / col("n"))
          .otherwise(expr(
            s"aggregate(transform(sequence(1, n - ${W - 1})," +
              s" i -> size(array_distinct(slice(t, i, $W))) / $W.0)," +
              " 0D, (acc, v) -> acc + v)") / (col("n") - lit(W - 1))))
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        round(col("mattr"), 6).as("mattr"))
      .orderBy("doc_id")
  }
  val mattrSql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> x <> '') AS t
      |  FROM documents),
      |s AS (SELECT doc_id, len(t) AS n, t FROM d WHERE len(t) >= 1)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
      |  round(CASE WHEN n < 25
      |      THEN CAST(len(list_distinct(t)) AS DOUBLE) / n
      |      ELSE list_sum(list_transform(generate_series(1, n - 24),
      |        i -> len(list_distinct(t[i:i+24])) / 25.0)) / (n - 24)
      |    END, 6) AS mattr
      |FROM s ORDER BY doc_id""".stripMargin

  /** TextRank keywords (text.TextRank): PageRank over the adjacent-
    * word co-occurrence graph, top-20 by rank — the unsupervised
    * keyword extractor. The oracle unrolls the identical 5 damping
    * rounds over the identically-built symmetric edge list (the
    * graph_pagerank oracle pattern), so the tokenization, the
    * undirected edge construction AND the rank algebra are all
    * value-checked. Ranked on 4dp-rounded values with a word
    * tie-break so the top-20 cut is deterministic cross-engine. */
  def textTextrank(spark: SparkSession, sfDir: String): DataFrame =
    graft.text.TextRank.ranks(
        Tables.documents(spark, sfDir), "text", iters = 5)
      .select(col("word"), round(col("rank"), 4).as("rank"))
      .orderBy(col("rank").desc, col("word"))
      .limit(20)
  private def trRound(k: Int): String =
    s"""r$k AS (
       |  SELECT n.node, 0.15 + 0.85 * coalesce(s.inflow, 0) AS rank
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node, sum(r${k - 1}.rank * e.p) AS inflow
       |    FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
       |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
  val textrankSql: String =
    """WITH toks AS (
      |  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |    x -> regexp_matches(x, '^[a-z]+$')) AS t
      |  FROM documents),
      |pr AS (
      |  SELECT t[i] AS a, t[i + 1] AS b
      |  FROM toks, LATERAL (
      |    SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
      |  WHERE len(t) >= 2),
      |pd AS (SELECT a, b FROM pr WHERE a <> b),
      |el AS (
      |  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM (
      |    SELECT a AS src, b AS dst FROM pd
      |    UNION ALL SELECT b, a FROM pd)
      |  GROUP BY 1, 2),
      |outw AS (SELECT src, sum(w) AS tw FROM el GROUP BY 1),
      |e AS (SELECT el.src, el.dst, el.w / o.tw AS p
      |      FROM el JOIN outw o ON el.src = o.src),
      |nodes AS (SELECT src AS node FROM el UNION SELECT dst FROM el),
      |r0 AS (SELECT node, 1.0 AS rank FROM nodes),
      |""".stripMargin +
      (1 to 5).map(trRound).mkString(",\n") +
      """
        |SELECT node AS word, round(rank, 4) AS rank FROM r5
        |ORDER BY round(rank, 4) DESC, node LIMIT 20""".stripMargin

  /** BPE pair statistics: top-15 frequency-weighted adjacent character
    * pairs over the distinct-word table — the first-merge statistics
    * of tokenizer training, computed vocab-sized not corpus-sized. */
  def textBpePairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.text.BpePairs.topPairs(
      Tables.documents(spark, sfDir), "doc_id", "text", k = 15)
  val bpePairsSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      |  FROM documents),
      |wf AS (SELECT word, count(*) AS freq FROM toks GROUP BY word),
      |p AS (
      |  SELECT freq, unnest(list_transform(
      |    generate_series(1, length(word) - 1),
      |    i -> substr(word, i, 2))) AS pair
      |  FROM wf WHERE length(word) >= 2)
      |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
      |FROM p GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 15""".stripMargin

  /** Perceptual-hash near-dup over binary payloads: the corpus plus a
    * length-preserving one-byte-edit copy of every payload (the
    * planted near-dups, same pattern as dedup_embedding's perturbed
    * oracle); the banded signature join must recover exactly the 500
    * planted pairs at Hamming <= 3 (pigeonhole-complete banding) with
    * no false positives — the natural inter-doc minimum is 15. */
  def mmPhashNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val variants = docs.select((col("doc_id") + 10000).as("doc_id"),
      concat(lit("X"), expr("substring(text, 2)")).as("text"))
    val payloads = BinaryPipeline.withPayload(
      docs.unionByName(variants), "doc_id", "text")
    // maxBucketSize = MaxValue EXPLICITLY: this gate's contract is
    // pigeonhole-COMPLETE recall, so the production skew cap must not
    // apply here even if nearPairs' default changes (r3 ADVICE).
    graft.multimodal.Phash.nearPairs(
        graft.multimodal.Phash.signatures(payloads), maxHamming = 3,
        maxBucketSize = Int.MaxValue)
      .orderBy("a", "b")
  }
  val mmPhashSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, 'X' || substr(text, 2) FROM documents),
      |b AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS n FROM corpus),
      |by AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, n),
      |    j -> struct_pack(seg := ((j-1) * 64) // n,
      |                     v := ('0x' || substr(hx, 2*j-1, 2))::BIGINT))) AS e
      |  FROM b),
      |segs AS (
      |  SELECT doc_id, e.seg AS seg, sum(e.v) AS s FROM by GROUP BY doc_id, e.seg),
      |sig AS (
      |  SELECT doc_id, sum(CASE WHEN s % 2 = 1
      |    THEN (1::HUGEINT << CAST(seg AS INT)) ELSE 0::HUGEINT END) AS su
      |  FROM segs GROUP BY doc_id),
      |sigs AS (
      |  SELECT doc_id, CAST(CASE WHEN su >= 9223372036854775808
      |    THEN su - 18446744073709551616 ELSE su END AS BIGINT) AS sg
      |  FROM sig)
      |SELECT a.doc_id AS a, b.doc_id AS b, bit_count(xor(a.sg, b.sg)) AS hamming
      |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sg, b.sg)) <= 3
      |ORDER BY a, b""".stripMargin

  /** Multimodal frame sampling: every 5th frame of each video payload,
    * with deterministic per-frame stub checksums. */
  def mmFrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    val payloads = BinaryPipeline.withPayload(
      Tables.documents(spark, sfDir), "doc_id", "text")
    BinaryPipeline.sampleFrames(
      BinaryPipeline.decode(payloads), everyN = 5)
      .orderBy("doc_id", "frame_idx")
  }
  val mmFrameSql: String =
    """WITH d AS (SELECT doc_id,
      |  CAST(length(text) % 30 AS INT) AS n_frames,
      |  CAST(list_sum(list_transform(generate_series(1, least(64, length(text))),
      |    i -> ascii(text[i]) * i)) AS BIGINT) AS checksum
      |  FROM documents
      |  WHERE doc_id % 3 = 2 AND length(text) % 30 > 0)
      |SELECT doc_id, frame_idx,
      |  round(frame_idx / 30.0, 6) AS frame_ts,
      |  checksum * 31 + frame_idx AS frame_checksum
      |FROM (SELECT doc_id, checksum,
      |        unnest(generate_series(0, n_frames - 1, 5)) AS frame_idx
      |      FROM d)
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Per-source corpus profile: counts, distinct languages, length
    * moments and exact interpolated percentiles — the stats pass a
    * training-data pipeline runs before curation decisions. All
    * partial-aggregable except the exact percentiles (which shuffle
    * (source, n_chars) pairs only — at 100 TB swap for approx_percentile
    * and drop the oracle to tolerance). */
  /** Inverted-index build: per-term exact df + the 10 lowest doc ids
    * as an O(k)-state posting preview (BoundedMinK — a stop-word
    * costs k ids of buffer, never its full posting list). Postings
    * serialize to CSV because gate outputs must stay scalar; the
    * oracle sorts-and-slices the true posting list. Only terms with
    * df ≥ 50 are emitted to keep the gate compact. */
  def textInvertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    graft.text.InvertedIndex.build(
        Tables.documents(spark, sfDir), "doc_id", "text", maxPostings = 10)
      .where(col("df") >= 50)
      .select(col("term"), col("df"),
        concat_ws(",", col("postings")).as("postings_csv"))
      .orderBy("term")
  val invertedIndexSql: String =
    """WITH t AS (
      |  SELECT DISTINCT doc_id AS doc, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
      |  FROM documents),
      |idx AS (
      |  SELECT term, count(*) AS df,
      |    (list_sort(list(doc)))[1:10] AS postings
      |  FROM t GROUP BY 1)
      |SELECT term, df, array_to_string(postings, ',') AS postings_csv
      |FROM idx WHERE df >= 50 ORDER BY term""".stripMargin

  /** Conjunctive (AND) search for the corpus's two most frequent
    * terms, chosen BY RULE (df desc, term asc) so both engines pick
    * the same pair on any data: docs carrying both terms, counted via
    * the re-filtered term stream — never an intersection of capped
    * posting arrays. */
  def textSearchAnd(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = graft.text.InvertedIndex.termStream(
      Tables.documents(spark, sfDir), "doc_id", "text")
    val top2 = stream.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term").asc).limit(2)
      .select("term").collect().map(_.getString(0)).sorted
    graft.text.InvertedIndex.conjunctive(
        Tables.documents(spark, sfDir), "doc_id", "text", top2.toSeq)
      .agg(count(lit(1)).as("n_docs_both"))
      .select(lit(top2.mkString(",")).as("terms"), col("n_docs_both"))
  }
  val searchAndSql: String =
    """WITH t AS (
      |  SELECT DISTINCT doc_id AS doc, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
      |  FROM documents),
      |top2 AS (
      |  SELECT term FROM (
      |    SELECT term, count(*) AS df FROM t GROUP BY 1
      |    ORDER BY df DESC, term ASC LIMIT 2)),
      |hits AS (
      |  SELECT doc FROM t WHERE term IN (SELECT term FROM top2)
      |  GROUP BY doc HAVING count(*) = 2)
      |SELECT (SELECT string_agg(term, ',' ORDER BY term) FROM top2) AS terms,
      |  (SELECT count(*) FROM hits) AS n_docs_both""".stripMargin

  /** Distinctive terms per source (keyness): smoothed log-lift of a
    * term's in-source rate over its corpus rate — the statistic
    * behind "what characterizes this source", used to spot template
    * boilerplate and topical skew before mixing. One token scan, two
    * vocabulary-sized count tables, broadcast joins; top-5 per source
    * ranked over the tiny (source × term) frame. α=0.5 smoothing
    * keeps rare terms from dominating on zero denominators. */
  def textKeyness(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir).select(col("source"),
      explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
        .as("term"))
    val bySrc = toks.groupBy("source", "term").agg(count(lit(1)).as("cws"))
    val srcTot = toks.groupBy("source").agg(count(lit(1)).as("ns"))
    val byTerm = toks.groupBy("term").agg(count(lit(1)).as("cw"))
    val tot = toks.agg(count(lit(1)).as("n"))
    val vocab = byTerm.agg(count(lit(1)).as("v"))
    val scored = bySrc
      .join(broadcast(srcTot), "source")
      .join(broadcast(byTerm), "term")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(vocab))
      .select(col("source"), col("term"), col("cws"),
        graft.functions.ScoreFns.scoreRound(
          log(((col("cws") + 0.5) / (col("ns") + col("v") * 0.5)) /
            ((col("cw") + 0.5) / (col("n") + col("v") * 0.5))), 4).as("lift"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("lift").desc, col("term"))
    scored.withColumn("r", row_number().over(w)).where(col("r") <= 5)
      .select("source", "r", "term", "cws", "lift")
      .orderBy("source", "r")
  }
  val keynessSql: String =
    """WITH toks AS (
      |  SELECT source, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
      |  FROM documents),
      |bs AS (SELECT source, term, count(*) AS cws FROM toks GROUP BY 1, 2),
      |st AS (SELECT source, count(*) AS ns FROM toks GROUP BY 1),
      |bt AS (SELECT term, count(*) AS cw FROM toks GROUP BY 1),
      |tot AS (SELECT count(*) AS n FROM toks),
      |voc AS (SELECT count(*) AS v FROM bt),
      |scored AS (
      |  SELECT bs.source, bs.term, bs.cws,
      |    round(ln(((bs.cws + 0.5) / (st.ns + 0.5 * voc.v)) /
      |      ((bt.cw + 0.5) / (tot.n + 0.5 * voc.v))), 4) + 0.0 AS lift
      |  FROM bs JOIN st USING (source) JOIN bt USING (term),
      |    tot, voc),
      |ranked AS (
      |  SELECT source, term, cws, lift,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY lift DESC, term) AS r
      |  FROM scored)
      |SELECT source, r, term, cws, lift FROM ranked WHERE r <= 5
      |ORDER BY source, r""".stripMargin

  /** Second-moment profile per group: sample stddev/variance, Pearson
    * correlation and sample covariance between quantity and price —
    * the profiling statistics a mixing/filtering decision reads after
    * the first-moment profile. All four share the n-1 sample
    * definition with DuckDB, so the replay is exact; everything is
    * one partial-aggregable pass (moment sketches combine map-side).
    * Rounded at 4dp — the moment accumulations differ in summation
    * order across engines at ~1e-12 relative. */
  def profileMoments(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_extendedprice")), 4).as("var_price"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4)
          .as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 4)
          .as("cov_qty_disc"))
      .orderBy("l_returnflag")
  val profileMomentsSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  round(stddev_samp(l_quantity), 4) AS sd_qty,
      |  round(var_samp(l_extendedprice), 4) AS var_price,
      |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      |  round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  def profileStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        round(avg(col("n_chars")), 6).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"),
        round(expr("percentile(n_chars, 0.9)"), 6).as("p90_chars"))
      .orderBy("source")
  val profileSql: String =
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT lang) AS n_langs,
      |  round(avg(n_chars), 6) AS avg_chars,
      |  min(n_chars) AS min_chars,
      |  max(n_chars) AS max_chars,
      |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
      |  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Vocabulary: top-20 tokens by document frequency. */
  def textVocab(spark: SparkSession, sfDir: String): DataFrame =
    graft.text.Vocab.topByDocFreq(
      Tables.documents(spark, sfDir), "doc_id", "text", k = 20)
  val vocabSql: String =
    """SELECT token, count(*) AS df FROM (
      |  SELECT DISTINCT doc_id,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |  FROM documents)
      |GROUP BY token ORDER BY df DESC, token LIMIT 20""".stripMargin

  /** TF-IDF: top-3 terms per doc (doc_id < 20) with corpus-wide df. */
  def textTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    graft.text.Vocab.tfIdfTop(docs, "doc_id", "text", nDocs = n,
        perDoc = 3, docFilter = col("doc_id") < 20)
      .orderBy("doc_id", "rank")
  }
  val tfidfSql: String =
    """WITH toks AS (
      |  SELECT doc_id, len(string_split_regex(trim(lower(text)), '\s+')) AS n_toks,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS cnt, any_value(n_toks) AS n_toks
      |       FROM toks GROUP BY doc_id, token),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.token,
      |    round((CAST(cnt AS DOUBLE) / n_toks)
      |      * ln(CAST(n.n AS DOUBLE) / df.df), 6) + 0.0 AS score
      |  FROM tf JOIN df USING (token) CROSS JOIN n
      |  WHERE tf.doc_id < 20)
      |SELECT doc_id, rank, token, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, token DESC) AS rank FROM scored) t
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Within-document repetition (duplicated 3-gram fraction). Tokens
    * bound to an attribute first — the n-gram lambda would otherwise
    * re-split the text per element — and the CPU-heavy map widened. */
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame =
    graft.core.Parallelism.widen(Tables.documents(spark, sfDir))
      .select(col("doc_id"),
        graft.dedup.Shingles.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        TextAnalysis.repetitionScoreFromTokens(col("__toks"), 3).as("repetition"))
      .orderBy("doc_id")
  val repetitionSql: String =
    """SELECT doc_id, CASE WHEN len(string_split_regex(trim(text), '\s+')) - 2 <= 0
      |  THEN 0.0 ELSE round(1.0 -
      |    CAST(len(list_distinct(list_transform(
      |      generate_series(1, len(string_split_regex(trim(text), '\s+')) - 2),
      |      i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
      |           string_split_regex(trim(text), '\s+')[i+1] || ' ' ||
      |           string_split_regex(trim(text), '\s+')[i+2]))) AS DOUBLE)
      |    / CAST(len(string_split_regex(trim(text), '\s+')) - 2 AS DOUBLE), 6) END
      |  AS repetition
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Unicode canonicalization through the native NFC / strip-accents
    * kernels (plans.UnicodeNorm): every document is prefixed with a
    * decomposed-form + accent-rich literal so the kernels do real work
    * on each row, then hashed forms and codepoint lengths pin the
    * exact output. Oracle: DuckDB's utf8proc-backed nfc_normalize /
    * strip_accents, whose semantics the kernels match by contract. */
  def textNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    // "Cafe" + combining acute, then composed Å/ö/ï and pass-through ø/ß
    val prefix = "Cafe\u0301 \u00C5ngstr\u00F6m na\u00EFve \u00F8re \u00DFe: "
    val decorated = concat(lit(prefix), col("text"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        length(decorated).as("len_raw"),
        length(graft.text.TextClean.normalizeNfc(decorated)).as("len_nfc"),
        md5(graft.text.TextClean.normalizeNfc(decorated)).as("nfc_md5"),
        graft.text.TextClean.foldAccents(decorated).as("plain_head"))
      .withColumn("plain_head", substring(col("plain_head"), 1, 40))
      .orderBy("doc_id")
  }
  val normalizeSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    'Cafe' || chr(769) || ' ' || chr(197) || 'ngstr' || chr(246) ||
      |      'm na' || chr(239) || 've ' || chr(248) || 're ' || chr(223) ||
      |      'e: ' || text AS s
      |  FROM documents)
      |SELECT doc_id, length(s) AS len_raw,
      |  length(nfc_normalize(s)) AS len_nfc,
      |  md5(nfc_normalize(s)) AS nfc_md5,
      |  substr(strip_accents(s), 1, 40) AS plain_head
      |FROM d ORDER BY doc_id""".stripMargin

  /** HTML-to-text extraction: each document is wrapped into a full
    * HTML page (head/style, comments, entities, trailing script) and
    * recovered via TextClean.htmlToText; the oracle replays the
    * identical RE2-safe regex chain. */
  def textHtmlExtract(spark: SparkSession, sfDir: String): DataFrame = {
    val page = concat(
      lit("<html><head><style>p{color:red}</style></head><body><h1>Doc "),
      col("doc_id"),
      lit("</h1><!-- hidden --><p class=\"b\">"),
      substring(col("text"), 1, 300),
      lit(" &amp; more &lt;tags&gt; &quot;q&quot; &#39;s&nbsp;end" +
        "</p><script>var x=1;</script></body></html>"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.text.TextClean.htmlToText(page).as("extracted"))
      .orderBy("doc_id")
  }
  val htmlExtractSql: String = {
    val page = """'<html><head><style>p{color:red}</style></head><body><h1>Doc '
      | || doc_id || '</h1><!-- hidden --><p class="b">' || substr(text, 1, 300)
      | || ' &amp; more &lt;tags&gt; &quot;q&quot; &#39;s&nbsp;end</p><script>var x=1;</script></body></html>'"""
      .stripMargin.replace("\n", "")
    s"""SELECT doc_id, ${graft.text.TextClean.htmlToTextSql(s"($page)")} AS extracted
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** BM25 retrieval scoring against a fixed 3-term query (text.Bm25):
    * corpus constants and per-term dfs broadcast as literals, scoring
    * is one stateless scan. The oracle replays the exact arithmetic —
    * integer dfs/lengths are exact in doubles, idf is rounded to 6
    * before use on both sides, and per-term contributions sum in
    * query order. */
  def textBm25(spark: SparkSession, sfDir: String): DataFrame =
    graft.text.Bm25.score(
      Tables.documents(spark, sfDir), "doc_id", "text",
      Seq("spark", "shuffle", "window"))
      .select(col("doc_id"),
        graft.functions.ScoreFns.scoreRound(col("bm25"), 4).as("bm25"))
      .orderBy("doc_id")
  val bm25Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |lens AS (SELECT doc_id, t, len(t) AS dl FROM tok),
      |stats AS (
      |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      |  FROM lens),
      |dfs AS (
      |  SELECT
      |    round(ln(1.0 + (count(*) - count(*) FILTER (list_contains(t, 'spark')) + 0.5)
      |      / (count(*) FILTER (list_contains(t, 'spark')) + 0.5)), 6) AS idf1,
      |    round(ln(1.0 + (count(*) - count(*) FILTER (list_contains(t, 'shuffle')) + 0.5)
      |      / (count(*) FILTER (list_contains(t, 'shuffle')) + 0.5)), 6) AS idf2,
      |    round(ln(1.0 + (count(*) - count(*) FILTER (list_contains(t, 'window')) + 0.5)
      |      / (count(*) FILTER (list_contains(t, 'window')) + 0.5)), 6) AS idf3
      |  FROM lens),
      |scored AS (
      |  SELECT doc_id,
      |    (idf1 * (CAST(len(list_filter(t, x -> x = 'spark')) AS DOUBLE) * 2.2))
      |      / (CAST(len(list_filter(t, x -> x = 'spark')) AS DOUBLE)
      |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
      |    + (idf2 * (CAST(len(list_filter(t, x -> x = 'shuffle')) AS DOUBLE) * 2.2))
      |      / (CAST(len(list_filter(t, x -> x = 'shuffle')) AS DOUBLE)
      |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
      |    + (idf3 * (CAST(len(list_filter(t, x -> x = 'window')) AS DOUBLE) * 2.2))
      |      / (CAST(len(list_filter(t, x -> x = 'window')) AS DOUBLE)
      |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS bm25
      |  FROM lens, stats, dfs)
      |SELECT doc_id, round(bm25, 4) + 0.0 AS bm25 FROM scored
      |WHERE bm25 > 0.0 ORDER BY doc_id""".stripMargin

  /** PII redaction over text with injected emails/number runs. */
  def textRedact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("dirty", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com id "),
        (col("doc_id") * 1234567 + 10000000).cast("string")))
      .select(col("doc_id"), TextAnalysis.redact(col("dirty")).as("clean"))
      .orderBy("doc_id")
  val redactSql: String =
    """SELECT doc_id, regexp_replace(regexp_replace(
      |    text || ' contact user' || doc_id || '@example.com id '
      |      || CAST(doc_id * 1234567 + 10000000 AS VARCHAR),
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |  '[0-9]{7,}', '<NUM>', 'g') AS clean
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Unigram-LM quality score: per-doc mean ln-probability under the
    * corpus's own empirical token distribution (perplexity proxy). */
  def textLmScore(spark: SparkSession, sfDir: String): DataFrame =
    graft.text.Vocab.lmLogProb(
      Tables.documents(spark, sfDir), "doc_id", "text")
      .orderBy("doc_id")
  val lmScoreSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |v AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
      |kept AS (SELECT token, cnt FROM v WHERE cnt >= 2),
      |oov AS (SELECT coalesce(sum(cnt), 0) AS oov_cnt FROM v WHERE cnt < 2),
      |tot AS (SELECT count(*) AS total FROM toks),
      |s AS (
      |  SELECT t.doc_id, count(*) AS n_tok,
      |    sum(ln(coalesce(k.cnt, (SELECT oov_cnt FROM oov)))) AS sl
      |  FROM toks t LEFT JOIN kept k USING (token) GROUP BY t.doc_id)
      |SELECT doc_id,
      |  round(sl / n_tok - ln((SELECT total FROM tot)), 6) + 0.0 AS lm_logprob
      |FROM s ORDER BY doc_id""".stripMargin

  /** Per-document token Shannon entropy — the degenerate-text detector
    * that catches what length and stopword ratios miss (a 10k-token
    * doc of one repeated word has perfect length and zero entropy).
    * Computed as H = ln(n) − (Σ c·ln c)/n over per-doc token counts —
    * the algebraic form that needs ONE aggregation pass (Σc and
    * Σ c·ln c are both partial-aggregable), no per-token probability
    * column. scoreRound guards the single-token edge: −1·ln(1)
    * evaluates to −0.0. */
  def textEntropy(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(expr(
        "filter(split(trim(lower(text)), '\\\\s+'), x -> x != '')"))
        .as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        graft.functions.ScoreFns.scoreRound(
          log(sum("c").cast("double")) -
            sum(col("c").cast("double") * log(col("c").cast("double"))) /
              sum("c").cast("double"), 6).as("entropy"))
      .orderBy("doc_id")
  val entropySql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS c FROM toks GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  round(ln(CAST(sum(c) AS DOUBLE))
      |    - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
      |      / CAST(sum(c) AS DOUBLE), 6) + 0.0 AS entropy
      |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Corpus Zipf fit: slope of ln(frequency) on ln(rank) over the
    * frequency-ranked vocabulary (natural text ≈ −1; a synthetic or
    * template-dominated corpus drifts toward 0). The rank is a
    * range-partitioned sort + consecutive ids (the A8 primitive), NOT
    * a row_number over an empty window: vocab ≪ corpus, but a
    * web-scale vocabulary is still 10⁸+ distinct tokens, and an
    * unpartitioned WindowExec would push all of them through one
    * task. Tie-break (freq DESC, token ASC) is pinned identically on
    * both sides because rank feeds the regression. */
  def textZipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    val freq = Tables.documents(spark, sfDir)
      .select(explode(expr(
        "filter(split(trim(lower(text)), '\\\\s+'), x -> x != '')"))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("f"))
    graft.ops.IdOps
      .generateConsecutiveIds(freq.sort(col("f").desc, col("token")), "r", 1L)
      .agg(count(lit(1)).as("vocab_size"),
        sum("f").as("total_tokens"),
        graft.functions.ScoreFns.scoreRound(
          expr("regr_slope(ln(f), ln(r))"), 6).as("zipf_slope"))
  }
  val zipfFitSql: String =
    """WITH toks AS (
      |  SELECT unnest(list_filter(
      |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
      |  FROM documents),
      |freq AS (SELECT token, count(*) AS f FROM toks GROUP BY 1),
      |ranked AS (
      |  SELECT f, row_number() OVER (ORDER BY f DESC, token ASC) AS r
      |  FROM freq)
      |SELECT count(*) AS vocab_size, CAST(sum(f) AS BIGINT) AS total_tokens,
      |  round(regr_slope(ln(f), ln(r)), 6) + 0.0 AS zipf_slope
      |FROM ranked""".stripMargin

  /** Shared BPE artifact fixture: one 10-round training per sf dir,
    * read by BOTH bpe gates (the graph-edge-fixture pattern — train
    * once, segment from the saved artifact, which is also the
    * production tokenizer lifecycle). Read back with the writer's
    * schemas: a fixture hit runs no Spark job. */
  private def bpeArtifacts(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val ((mp, ms), (vp, vs)) = GraftSession.shared(s"bpe#$sfDir") { d =>
      val (m, v) = graft.text.BpeTrainer.trainArtifacts(
        Tables.documents(spark, sfDir), "text", rounds = 10,
        s"$d/merges", s"$d/symbols")
      ((s"$d/merges", m), (s"$d/symbols", v))
    }
    (spark.read.schema(ms).parquet(mp), spark.read.schema(vs).parquet(vp))
  }

  /** BPE tokenizer TRAINING in-engine (text.BpeTrainer): the first 10
    * learned merge rules with their pair counts. The oracle unrolls
    * the identical relational program per round — pair lead-window,
    * argmax with the same (count DESC, left, right) tie-break, the
    * gaps-and-islands odd-offset rule for self-pair runs, consumed-row
    * lag filter, renumber — so any drift in the merge algebra breaks
    * a value, not just a count. */
  def textBpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    bpeArtifacts(spark, sfDir)._1.orderBy("round")
  private def bpeRound(k: Int): String =
    s"""p$k AS (
       |  SELECT v.*, lead(tok) OVER (PARTITION BY w ORDER BY pos) AS nxt
       |  FROM v${k - 1} v),
       |m$k AS (
       |  SELECT tok AS x, nxt AS y, CAST(cnt AS BIGINT) AS cnt FROM (
       |    SELECT tok, nxt, sum(f) AS cnt FROM p$k WHERE nxt IS NOT NULL
       |    GROUP BY 1, 2 ORDER BY cnt DESC, tok, nxt LIMIT 1)),
       |a$k AS (SELECT p.*, m.x, m.y FROM p$k p CROSS JOIN m$k m),
       |b$k AS (
       |  SELECT *, CASE WHEN tok = x THEN pos - row_number()
       |    OVER (PARTITION BY w, (tok = x) ORDER BY pos) END AS runid
       |  FROM a$k),
       |c$k AS (
       |  SELECT *, CASE WHEN runid IS NOT NULL THEN row_number()
       |    OVER (PARTITION BY w, runid ORDER BY pos) END AS off
       |  FROM b$k),
       |d$k AS (
       |  SELECT *, (tok = x AND nxt = y AND (x <> y OR off % 2 = 1)) AS m
       |  FROM c$k),
       |e$k AS (
       |  SELECT *, coalesce(lag(m) OVER (PARTITION BY w ORDER BY pos),
       |    false) AS lm
       |  FROM d$k),
       |v$k AS (
       |  SELECT w, f, row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
       |    CASE WHEN m THEN tok || nxt ELSE tok END AS tok
       |  FROM e$k WHERE NOT lm)""".stripMargin
  private val bpeChainSql: String =
    """WITH words AS (
      |  SELECT w, count(*) AS f FROM (
      |    SELECT unnest(list_filter(
      |      string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS w
      |    FROM documents) t
      |  WHERE regexp_matches(w, '^[a-z]+$')
      |  GROUP BY 1),
      |v0p AS (
      |  SELECT w, f,
      |    unnest(generate_series(1, CAST(length(w) AS BIGINT))) AS pos
      |  FROM words),
      |v0 AS (SELECT w, f, pos, substr(w, pos, 1) AS tok FROM v0p),
      |""".stripMargin +
      (1 to 10).map(bpeRound).mkString(",\n") + "\n"
  val bpeTrainSql: String = bpeChainSql +
      (1 to 10).map(k =>
        s"SELECT $k AS round, (SELECT x || y FROM m$k) AS merged," +
          s" (SELECT cnt FROM m$k) AS pair_count")
        .mkString("", "\nUNION ALL\n", "\nORDER BY round")

  /** Segmentation statistics after applying the 10 learned merges —
    * the apply half of the tokenizer lifecycle (train → segment). The
    * oracle reuses the identical unrolled chain and aggregates the
    * final symbol table; all-integer output. */
  def textBpeApply(spark: SparkSession, sfDir: String): DataFrame =
    bpeArtifacts(spark, sfDir)._2
      .agg(countDistinct(col("tok")).as("vocab_units"),
        sum(col("f")).as("total_subwords"),
        countDistinct(col("w")).as("n_word_types"))
  val bpeApplySql: String = bpeChainSql +
    """SELECT count(DISTINCT tok) AS vocab_units,
      |  CAST(sum(f) AS BIGINT) AS total_subwords,
      |  count(DISTINCT w) AS n_word_types
      |FROM v10""".stripMargin

  /** Corpus drift via Jensen-Shannon divergence between the unigram
    * distributions of two corpus slices (here: even vs odd doc_id —
    * in production, yesterday's crawl vs today's). THE distribution-
    * shift monitor for a continuously-ingested training corpus: JSD
    * is symmetric, bounded [0, ln 2], and zero-frequency-safe (a term
    * in one slice only contributes p·ln 2 — no smoothing constant to
    * tune or replay). Shape: ONE token aggregation with the parity
    * split folded into conditional sums (no second scan, no join of
    * two frequency tables), totals as a broadcast 1-row frame (the
    * Collocations idiom), then a vocabulary-sized sum — everything
    * partial-aggregable. */
  def textJsdDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(expr(
        "filter(split(trim(lower(text)), '\\\\s+'), x -> x != '')"))
        .as("token"))
    val cnt = toks.groupBy("token").agg(
      sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("cb"))
    val tot = cnt.agg(sum("ca").cast("double").as("ta"),
      sum("cb").cast("double").as("tb"))
    val terms = cnt.crossJoin(broadcast(tot))
      .select(col("ca"), col("cb"),
        (col("ca").cast("double") / col("ta")).as("p"),
        (col("cb").cast("double") / col("tb")).as("q"))
      .select(col("ca"), col("cb"),
        when(col("ca") > 0,
          col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))))
          .otherwise(0.0).as("pa"),
        when(col("cb") > 0,
          col("q") * log(lit(2.0) * col("q") / (col("p") + col("q"))))
          .otherwise(0.0).as("pb"))
    terms.agg(count(lit(1)).as("vocab_size"),
      sum("ca").as("n_tokens_a"), sum("cb").as("n_tokens_b"),
      graft.functions.ScoreFns.scoreRound(
        lit(0.5) * sum("pa") + lit(0.5) * sum("pb"), 6).as("jsd"))
  }
  val jsdDriftSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
      |  FROM documents),
      |cnt AS (
      |  SELECT token,
      |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(sum(ca) AS DOUBLE) AS ta,
      |               CAST(sum(cb) AS DOUBLE) AS tb FROM cnt),
      |terms AS (
      |  SELECT ca, cb,
      |    CASE WHEN ca > 0 THEN (ca / ta)
      |      * ln(2.0 * (ca / ta) / ((ca / ta) + (cb / tb))) ELSE 0 END AS pa,
      |    CASE WHEN cb > 0 THEN (cb / tb)
      |      * ln(2.0 * (cb / tb) / ((ca / ta) + (cb / tb))) ELSE 0 END AS pb
      |  FROM cnt, tot)
      |SELECT count(*) AS vocab_size,
      |  CAST(sum(ca) AS BIGINT) AS n_tokens_a,
      |  CAST(sum(cb) AS BIGINT) AS n_tokens_b,
      |  round(0.5 * sum(pa) + 0.5 * sum(pb), 6) + 0.0 AS jsd
      |FROM terms""".stripMargin

  /** N-gram novelty profile: per document, the fraction of its
    * DISTINCT trigram shingles that first appear in THIS document
    * (first = lowest doc_id — any total order works; ingestion time
    * in production). The running-dedup health metric: a corpus whose
    * late documents trend toward zero novelty is re-crawling itself.
    * One postings explode, one min-per-shingle aggregation, one join
    * back — all keyed on the shingle, nothing quadratic, and every
    * statistic is a ratio of integers (bit-identical division). */
  def textNgramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val posts = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.dedup.Shingles.tokens(lower(col("text"))).as("__toks"))
      .select(col("doc_id"), explode(
        graft.dedup.Shingles.shinglesFromTokens(col("__toks"), 3)).as("sh"))
    val first = posts.groupBy("sh").agg(min("doc_id").as("first_doc"))
    posts.join(first, "sh")
      .groupBy("doc_id")
      .agg(
        round(avg(when(col("first_doc") === col("doc_id"), 1.0)
          .otherwise(0.0)), 4).as("novelty"),
        count(lit(1)).as("n_shingles"))
      .orderBy("doc_id")
  }
  val ngramNoveltySql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
      |  FROM toks, LATERAL (
      |    SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
      |  WHERE len(t) >= 3),
      |fst AS (SELECT sh, min(doc_id) AS fd FROM sh GROUP BY 1)
      |SELECT s.doc_id,
      |  round(avg(CASE WHEN f.fd = s.doc_id THEN 1.0 ELSE 0.0 END), 4)
      |    AS novelty,
      |  count(*) AS n_shingles
      |FROM sh s JOIN fst f USING (sh)
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** Bigram-LM quality score (text.Vocab.bigramLogProb): per-doc mean
    * ln P(wᵢ|wᵢ₋₁) under the corpus's add-1-smoothed bigram model —
    * prices word order, which the unigram text_lm_score cannot. The
    * oracle rebuilds the bigram model and replays the identical
    * smoothing algebra. */
  def textBigramLm(spark: SparkSession, sfDir: String): DataFrame =
    graft.text.Vocab.bigramLogProb(
      Tables.documents(spark, sfDir), "doc_id", "text")
      .orderBy("doc_id")
  val bigramLmSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)),
      |    '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |u AS (SELECT unnest(t) AS w FROM toks),
      |uc AS (SELECT w, count(*) AS cw FROM u GROUP BY 1),
      |vv AS (SELECT count(*) AS v FROM uc),
      |bi AS (
      |  SELECT doc_id, t[i] AS a, t[i + 1] AS b, count(*) AS cnt
      |  FROM toks, LATERAL (
      |    SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
      |  WHERE len(t) >= 2 GROUP BY 1, 2, 3),
      |bc AS (SELECT a, b, sum(cnt) AS cab FROM bi GROUP BY 1, 2)
      |SELECT bi.doc_id,
      |  round(sum(bi.cnt * ln((bc.cab + 1.0)
      |      / (uc.cw + (SELECT v FROM vv))))
      |    / sum(bi.cnt), 6) + 0.0 AS bigram_logprob
      |FROM bi JOIN bc USING (a, b) JOIN uc ON bi.a = uc.w
      |GROUP BY bi.doc_id ORDER BY bi.doc_id""".stripMargin

  /** RAKE phrase-boundary stopwords (fixed literal list shared with
    * the oracle; '' handles split artifacts). */
  private val RakeStops =
    Seq("the", "a", "of", "and", "to", "is", "in", "on", "for", "")

  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    * are maximal stopword-delimited token runs; each word scores
    * degree/frequency (degree = Σ lengths of phrases containing it —
    * words that live in LONG phrases beat words that appear alone),
    * and a phrase scores the sum of its member-word scores. The
    * document-free companion to text_textrank (no graph iteration, one
    * pass over positions). Shapes: the fact-sized work is one
    * posexplode + per-doc prefix-sum islands (windows partitioned by
    * doc — peer groups bounded by doc length); word statistics are
    * vocabulary-sized; the ranking is on the distinct-phrase table. */
  def textRake(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(split(trim(lower(col("text"))), "\\s+"))
          .as(Seq("pos", "token")))
      .withColumn("stop", col("token").isin(RakeStops: _*))
    val wIsl = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val members = toks
      .withColumn("island", sum(when(col("stop"), 1L).otherwise(0L))
        .over(wIsl))
      .where(!col("stop"))
    val phrases = members.groupBy("doc_id", "island")
      .agg(count(lit(1)).as("n_words"),
        concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(pos, token)))," +
            " s -> s.token)")).as("phrase"))
    val wordStats = members
      .join(phrases.select(col("doc_id"), col("island"), col("n_words")),
        Seq("doc_id", "island"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"), sum("n_words").as("degree"))
    val scored = members
      .join(broadcast(wordStats), "token")
      .groupBy("doc_id", "island")
      .agg(sum(col("degree") / col("freq").cast("double")).as("score"))
      .join(phrases, Seq("doc_id", "island"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"),
        graft.functions.ScoreFns.scoreRound(max(col("score")), 4)
          .as("score"),
        max("n_words").as("n_words"))
    scored.orderBy(desc("score"), col("phrase")).limit(20)
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        col("score"))
  }
  val rakeSql: String = {
    val stops = RakeStops.map(s => s"'$s'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, i AS pos, t[i] AS token,
       |    t[i] IN ($stops) AS stop
       |  FROM (
       |    SELECT doc_id,
       |      string_split_regex(trim(lower(text)), '\\s+') AS t
       |    FROM documents) d,
       |  LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
       |isl AS (
       |  SELECT doc_id, pos, token, stop,
       |    sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM toks),
       |members AS (
       |  SELECT doc_id, pos, token, island FROM isl WHERE NOT stop),
       |phr AS (
       |  SELECT doc_id, island, count(*) AS n_words,
       |    string_agg(token, ' ' ORDER BY pos) AS phrase
       |  FROM members GROUP BY 1, 2),
       |ws AS (
       |  SELECT token, count(*) AS freq,
       |    CAST(sum(n_words) AS BIGINT) AS degree
       |  FROM members JOIN phr USING (doc_id, island)
       |  GROUP BY 1),
       |sc AS (
       |  SELECT m.doc_id, m.island,
       |    sum(degree / CAST(freq AS DOUBLE)) AS score
       |  FROM members m JOIN ws USING (token)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT phrase, max(p.n_words) AS n_words,
       |    count(*) AS n_occurrences,
       |    round(max(score), 4) + 0.0 AS score
       |  FROM sc JOIN phr p USING (doc_id, island)
       |  GROUP BY 1)
       |SELECT phrase, n_words, n_occurrences, score
       |FROM ranked ORDER BY score DESC, phrase LIMIT 20""".stripMargin
  }

  /** Minimum corpus frequency for a term to enter the burstiness
    * ranking (below this the Poisson expectation is too grainy). */
  private val BurstMinTf = 20

  /** Term burstiness profile (Church & Gale 1995): compare each term's
    * OBSERVED document frequency to the Poisson expectation
    * E[df] = D·(1 − e^(−tf/D)) given its corpus frequency. A term that
    * appears 100 times spread over ~100 docs is function-like; one
    * that appears 100 times inside 4 docs is bursty — topical,
    * template, or spam — and burstiness = E[df]/df ≫ 1 surfaces it
    * without any per-doc model. The top-30 bursty terms are the
    * dictionary a template-detection pass seeds from. Shape: one
    * explode → (token, doc) keyed agg → vocabulary-sized term table;
    * ranking and the exp() live on that bounded table. */
  def textBurstiness(spark: SparkSession, sfDir: String): DataFrame = {
    val td = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .groupBy("token", "doc_id").agg(count(lit(1)).as("c"))
    val terms = td.groupBy("token")
      .agg(sum("c").as("tf"), count(lit(1)).as("df"))
    val d = Tables.documents(spark, sfDir).agg(count(lit(1)).as("docs"))
    terms.crossJoin(broadcast(d))
      .where(col("tf") >= BurstMinTf)
      .select(col("token"), col("tf"), col("df"), col("docs"),
        graft.functions.ScoreFns.scoreRound(col("docs") * (lit(1.0)
          - exp(-(col("tf").cast("double")) / col("docs"))), 4)
          .as("expected_df"),
        graft.functions.ScoreFns.scoreRound((col("docs") * (lit(1.0)
          - exp(-(col("tf").cast("double")) / col("docs"))))
          / col("df"), 6).as("burstiness"))
      .orderBy(desc("burstiness"), col("token"))
      .limit(30)
  }
  val burstinessSql: String =
    s"""WITH td AS (
       |  SELECT token, doc_id, count(*) AS c FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
       |    FROM documents) t
       |  WHERE token <> '' GROUP BY 1, 2),
       |terms AS (
       |  SELECT token, CAST(sum(c) AS BIGINT) AS tf, count(*) AS df
       |  FROM td GROUP BY 1),
       |dd AS (SELECT count(*) AS docs FROM documents)
       |SELECT token, tf, df, docs,
       |  round(docs * (1.0 - exp(-CAST(tf AS DOUBLE) / docs)), 4) + 0.0
       |    AS expected_df,
       |  round((docs * (1.0 - exp(-CAST(tf AS DOUBLE) / docs))) / df, 6)
       |    + 0.0 AS burstiness
       |FROM terms CROSS JOIN dd
       |WHERE tf >= $BurstMinTf
       |ORDER BY burstiness DESC, token LIMIT 30""".stripMargin

  /** Interpolated Kneser–Ney bigram LM score per document
    * ([[graft.text.Vocab.kneserNeyLogProb]]) — the strongest classical
    * n-gram smoother, complementing the add-V text_bigram_lm: absolute
    * discounting plus a continuation-probability backoff that prices
    * how many distinct contexts a word follows. Same tokenization and
    * shapes as text_bigram_lm (vocabulary-sized aggregations only);
    * the oracle replays the full KN algebra with the identical
    * association order. */
  def textKneserNey(spark: SparkSession, sfDir: String): DataFrame =
    graft.text.Vocab.kneserNeyLogProb(
      Tables.documents(spark, sfDir), "doc_id", "text")
      .orderBy("doc_id")
  val kneserNeySql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)),
      |    '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |bi AS (
      |  SELECT doc_id, t[i] AS a, t[i + 1] AS b, count(*) AS cnt
      |  FROM toks, LATERAL (
      |    SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
      |  WHERE len(t) >= 2 GROUP BY 1, 2, 3),
      |bc AS (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS cab
      |       FROM bi GROUP BY 1, 2),
      |ctx AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ctxa,
      |         count(*) AS n1f
      |       FROM bc GROUP BY 1),
      |cont AS (SELECT b, count(*) AS n1b FROM bc GROUP BY 1),
      |bt AS (SELECT count(*) AS bb FROM bc)
      |SELECT bi.doc_id,
      |  round(sum(bi.cnt * ln((bc.cab - 0.75) / ctxa
      |      + ((0.75 * n1f) / ctxa) * (CAST(n1b AS DOUBLE) / bb)))
      |    / sum(bi.cnt), 6) + 0.0 AS kn_logprob
      |FROM bi JOIN bc USING (a, b) JOIN ctx USING (a)
      |JOIN cont USING (b) CROSS JOIN bt
      |GROUP BY bi.doc_id ORDER BY bi.doc_id""".stripMargin

  /** Hashed-feature linear classifier inference (fastText-style):
    * logistic over mean-pooled md5-bucket weights. */
  def textQualityClassifier(spark: SparkSession, sfDir: String): DataFrame =
    graft.text.HashedClassifier.score(
      Tables.documents(spark, sfDir), "doc_id", "text")
      .orderBy("doc_id")
  val classifierSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |w AS (
      |  SELECT i AS bucket, (i - 128) / 256.0 AS w
      |  FROM (SELECT unnest(generate_series(0, 255)) AS i)),
      |b AS (
      |  SELECT doc_id,
      |    16 * (strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1)
      |      + strpos('0123456789abcdef', substr(md5(token), 2, 1)) - 1 AS bucket
      |  FROM toks)
      |SELECT doc_id,
      |  round(1.0 / (1.0 + exp(-(sum(w.w) / count(*)))), 6) AS quality_prob
      |FROM b JOIN w USING (bucket)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Hapax-legomena profile per language: vocabulary size, number of
    * corpus-frequency-1 tokens, and their ratio — the classic
    * heavy-tail health check for a training corpus (a collapsing hapax
    * ratio signals template/duplicated text). Same whitespace-lowercase
    * tokenization as `text_vocab`. Shape: token counts combine
    * map-side, the only exchange is vocabulary-sized on (lang, token),
    * then a 5-row per-language reduction — no windows, no collects. */
  def textHapaxRatio(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("f"))
      .groupBy("lang")
      .agg(count(lit(1)).as("vocab_size"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("hapax"),
        sum("f").as("total_tokens"))
      .select(col("lang"), col("vocab_size"), col("hapax"),
        col("total_tokens"),
        round(col("hapax") / col("vocab_size").cast("double"), 6)
          .as("hapax_ratio"))
      .orderBy("lang")
  val hapaxRatioSql: String =
    """WITH tf AS (
      |  SELECT lang,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      |  FROM documents),
      |c AS (SELECT lang, token, count(*) AS f FROM tf GROUP BY 1, 2)
      |SELECT lang, count(*) AS vocab_size,
      |  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      |  CAST(sum(f) AS BIGINT) AS total_tokens,
      |  round(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)
      |    / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** Flesch-style readability per document from three codegen'd
    * regexp counters: whitespace words, sentence-punctuation runs
    * ([.!?]+), and vowel-group syllable proxies — the deterministic
    * skeleton of the readability quality signal (real syllabification
    * is dictionary work; the vowel-group proxy is the standard cheap
    * stand-in and is pinned exactly by the oracle). Pure per-row map,
    * no shuffle at all; every ratio divides exact integers. */
  def textReadability(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("words"),
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
          .cast("long").as("sentences"),
        regexp_count(lower(col("text")), lit("[aeiouy]+"))
          .cast("long").as("syllables"))
      .select(col("doc_id"), col("words"), col("sentences"),
        col("syllables"),
        graft.functions.ScoreFns.scoreRound(
          lit(206.835)
            - lit(1.015) * col("words") / col("sentences")
            - lit(84.6) * col("syllables") / greatest(col("words"), lit(1L)),
          4).as("flesch"))
      .orderBy("doc_id")
  val readabilitySql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    len(string_split_regex(trim(text), '\s+')) AS words,
      |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
      |      AS sentences,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
      |  FROM documents)
      |SELECT doc_id, CAST(words AS BIGINT) AS words,
      |  CAST(sentences AS BIGINT) AS sentences,
      |  CAST(syllables AS BIGINT) AS syllables,
      |  round(206.835 - 1.015 * words / sentences
      |    - 84.6 * syllables / greatest(words, 1), 4) + 0.0 AS flesch
      |FROM m ORDER BY doc_id""".stripMargin

  /** Code-vs-prose detection by symbol statistics — the router every
    * mixed web corpus needs before language-specific filters. Three
    * codegen'd per-row counters (code-symbol characters via translate
    * deletion, semicolon-suffixed lines, digit mass) vote through
    * fixed thresholds; all ratios divide exact integers so the 6dp
    * rounding is deterministic. Pure map, no shuffle except the final
    * 2-row summary aggregation per verdict. */
  def textCodeDetect(spark: SparkSession, sfDir: String): DataFrame = {
    val sym = "{}();=<>[]#"
    val t = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("len"),
        (length(col("text")) -
          length(translate(col("text"), sym, ""))).cast("long").as("n_sym"),
        regexp_count(col("text"), lit(";")).cast("long").as("n_semi"),
        (length(col("text")) -
          length(translate(col("text"), "0123456789", "")))
          .cast("long").as("n_digit"))
      .withColumn("sym_ratio",
        round(col("n_sym") / greatest(col("len"), lit(1L)).cast("double"), 6))
      .withColumn("is_code",
        (col("sym_ratio") >= 0.02 && col("n_semi") >= 2).cast("long"))
    t.select(col("doc_id"), col("len"), col("n_sym"), col("n_semi"),
        col("n_digit"), col("sym_ratio"), col("is_code"))
      .orderBy("doc_id")
  }
  val codeDetectSql: String =
    """WITH m AS (
      |  SELECT doc_id, length(text) AS len,
      |    length(text) - length(translate(text, '{}();=<>[]#', ''))
      |      AS n_sym,
      |    length(text) - length(replace(text, ';', '')) AS n_semi,
      |    length(text) - length(translate(text, '0123456789', ''))
      |      AS n_digit
      |  FROM documents),
      |r AS (
      |  SELECT *, round(n_sym / CAST(greatest(len, 1) AS DOUBLE), 6)
      |    AS sym_ratio
      |  FROM m)
      |SELECT doc_id, CAST(len AS BIGINT) AS len,
      |  CAST(n_sym AS BIGINT) AS n_sym, CAST(n_semi AS BIGINT) AS n_semi,
      |  CAST(n_digit AS BIGINT) AS n_digit, sym_ratio,
      |  CAST(CASE WHEN sym_ratio >= 0.02 AND n_semi >= 2
      |    THEN 1 ELSE 0 END AS BIGINT) AS is_code
      |FROM r ORDER BY doc_id""".stripMargin

  /** Prefix-cluster profile: documents grouped by their first 40
    * normalized characters — the cheapest template/boilerplate family
    * detector (a shared prefix is how mirrored pages, form letters,
    * and scraper artifacts usually announce themselves), reported as
    * a cluster-size histogram. One keyed aggregation on a fixed-width
    * key; no pairs, no index, scan-linear at any corpus size. */
  def textPrefixClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val sizes = Tables.documents(spark, sfDir)
      .groupBy(substring(lower(trim(col("text"))), 1, 40).as("prefix"))
      .agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("cluster_size")).as("n_docs"))
      .orderBy("cluster_size")
  }
  val prefixClustersSql: String =
    """WITH s AS (
      |  SELECT substr(lower(trim(text)), 1, 40) AS prefix,
      |    count(*) AS cluster_size
      |  FROM documents GROUP BY 1)
      |SELECT cluster_size, count(*) AS n_clusters,
      |  count(*) * cluster_size AS n_docs
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  def gates: Seq[Gate] = Seq(
    Gate("text_prefix_clusters", textPrefixClusters, prefixClustersSql),
    Gate("text_code_detect", textCodeDetect, codeDetectSql),
    Gate("text_hapax_ratio", textHapaxRatio, hapaxRatioSql),
    Gate("text_readability", textReadability, readabilitySql),
    Gate("text_quality_classifier", textQualityClassifier, classifierSql),
    Gate("text_lm_score", textLmScore, lmScoreSql),
    Gate("text_bigram_lm", textBigramLm, bigramLmSql),
    Gate("text_kneser_ney", textKneserNey, kneserNeySql),
    Gate("text_burstiness", textBurstiness, burstinessSql),
    Gate("text_rake", textRake, rakeSql),
    Gate("text_ngram_novelty", textNgramNovelty, ngramNoveltySql),
    Gate("text_entropy", textEntropy, entropySql),
    Gate("text_jsd_drift", textJsdDrift, jsdDriftSql),
    Gate("text_bpe_train", textBpeTrain, materialized(bpeTrainSql)),
    Gate("text_bpe_apply", textBpeApply, materialized(bpeApplySql)),
    Gate("text_textrank", textTextrank, textrankSql),
    Gate("text_mattr", textMattr, mattrSql),
    Gate("text_zipf_fit", textZipfFit, zipfFitSql),
    Gate("text_repetition", textRepetition, repetitionSql),
    Gate("text_redact", textRedact, redactSql),
    Gate("text_normalize", textNormalize, normalizeSql),
    Gate("text_html_extract", textHtmlExtract, htmlExtractSql),
    Gate("text_bm25", textBm25, bm25Sql),
    Gate("text_token_counts", textTokenCounts, tokenSql),
    Gate("text_chunk_sliding", textChunkSliding, chunkSlidingSql),
    Gate("text_chunk_pack", textChunkPack, chunkPackSql),
    Gate("text_lang_id", textLangId, langSql),
    Gate("text_quality", textQuality, qualitySql),
    Gate("text_fingerprint", textFingerprint, fingerprintSql),
    Gate("mm_decode_stub", mmDecodeStub, mmSql),
    Gate("mm_decode", mmDecode, mmDecodeSql),
    Gate("mm_audio_decode", mmAudioDecode, mmAudioDecodeSql),
    Gate("mm_video_decode", mmVideoDecode, mmVideoDecodeSql),
    Gate("mm_video_frames", mmVideoFrames, mmVideoFramesSql),
    Gate("mm_video_mjpg", mmVideoMjpg, mmVideoMjpgSql),
    Gate("mm_decode_resize", mmDecodeResize, mmDecodeResizeSql),
    Gate("mm_phash_decoded", mmPhashDecoded, mmPhashDecodedSql),
    Gate("mm_resize", mmResize, mmResizeSql),
    Gate("mm_frame_sample", mmFrameSample, mmFrameSql),
    Gate("mm_phash_neardup", mmPhashNeardup, mmPhashSql),
    Gate("text_bpe_pairs", textBpePairs, bpePairsSql),
    Gate("text_pmi", textPmi, textPmiSql),
    Gate("text_collocations_llr", textCollocationsLlr, textCollocationsLlrSql),
    Gate("text_gopher_rules", textGopherRules, gopherSql),
    Gate("profile_stats", profileStats, profileSql),
    Gate("profile_moments", profileMoments, profileMomentsSql),
    Gate("text_inverted_index", textInvertedIndex, invertedIndexSql),
    Gate("text_search_and", textSearchAnd, searchAndSql),
    Gate("text_keyness", textKeyness, keynessSql),
    Gate("text_lang_confusion", textLangConfusion, langConfusionSql),
    Gate("text_boilerplate", textBoilerplateRatio, boilerplateSql),
    Gate("text_vocab", textVocab, vocabSql),
    Gate("text_tfidf", textTfidf, tfidfSql))
}
