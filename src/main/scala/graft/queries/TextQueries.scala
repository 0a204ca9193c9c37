package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkEntry.scratchDir
import graft.functions.TextFns
import graft.queries.QueryFixtures._

/** Text queries: `TextFns`, `NgramLm`, `Sketches`, `HeavyHitters`, `Crawl`,
  * `Warc` and `Multimodal`.
  */
object TextQueries {

  /** Deterministic synthetic crawl for q199/q200: every document as a
    * WARC-ready HTML page (text HTML-escaped into a `<p>`, a script
    * element carrying decoy markup, one outlink with UNSORTED query
    * params so canonicalization has work, a comment, `doc_id % 7 == 0`
    * pages served as 404). The q199/q200 oracles rebuild these pages
    * closed-form in SQL — keep both in lockstep.
    */
  private def warcPages(docs: DataFrame): DataFrame = {
    val esc = (c: Column) => regexp_replace(regexp_replace(regexp_replace(
      c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val id = col("doc_id").cast("string")
    docs.select(
      concat(lit("<urn:graft:doc:"), id, lit(">")).as("record_id"),
      concat(lit("http://"), col("source"), lit(".example.com/doc/"), id)
        .as("target_uri"),
      lit("2026-08-15T00:00:00Z").as("warc_date"),
      lit("text/html; charset=utf-8").as("http_content_type"),
      when(col("doc_id") % 7 === 0, 404).otherwise(200).cast("int")
        .as("http_status"),
      concat(
        lit("<html><head><title>doc "), id,
        lit("</title><script>var x=\"<p>no</p>\";</script></head><body><p>"),
        esc(coalesce(col("text"), lit(""))),
        lit("</p><a href=\"http://out"), (col("doc_id") % 5).cast("string"),
        lit(".example.org/p?b=2&a=1\">next</a><!-- c --></body></html>"))
        .as("body"))
  }

  val specs: Seq[QuerySpec] = Seq(
    // Text analysis: token counts, punctuation/stopword ratios, quality.
    QuerySpec("q22_text_stats", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_raw"),
        round(TextFns.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextFns.stopwordRatio(col("text")), 6).as("stop_ratio"),
        TextFns.qualityScore(col("text")).as("quality"))
    },
      """WITH d AS (SELECT doc_id, text,
        |  regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |m AS (SELECT doc_id, text, len(toks) AS n_tokens,
        |  length(text) AS n_chars_raw,
        |  length(regexp_replace(text, '[^[:punct:]]', '', 'g')) * 1.0 / length(text) AS pr,
        |  len(list_filter(toks, t -> lower(t) IN ('the','a','an','and','or','of','to','in',
        |    'is','it','for','on','with','as','at','by','this','that'))) * 1.0 / len(toks) AS sr
        |  FROM d)
        |SELECT doc_id, n_tokens, n_chars_raw,
        |  round(pr, 6) AS punct_ratio, round(sr, 6) AS stop_ratio,
        |  round((least(length(text) / 500.0, 1.0) + (1.0 - least(pr * 5.0, 1.0))
        |    + least(sr * 4.0, 1.0)) / 3.0, 6) AS quality
        |FROM m""".stripMargin),

    // Language-ID heuristic (marker-word argmax, deterministic ties).
    QuerySpec("q23_lang_id", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextFns.langId(col("text")).as("lang_pred"))
    },
      """WITH d AS (SELECT doc_id, lang,
        |  regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  len(list_filter(toks, t -> t IN ('the','and','of','is','with'))) AS s_en,
        |  len(list_filter(toks, t -> t IN ('der','und','die','ist','mit'))) AS s_de,
        |  len(list_filter(toks, t -> t IN ('le','et','les','est','avec'))) AS s_fr,
        |  len(list_filter(toks, t -> t IN ('el','y','los','es','con'))) AS s_es,
        |  len(list_filter(toks, t -> t IN ('de5','shi4','le5','he2','zai4'))) AS s_zh
        |  FROM d)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
        |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
        |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
        |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
        |       WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
        |       ELSE 'zh' END AS lang_pred
        |FROM sc""".stripMargin),

    // SimHash near-dup signatures (60-bit, SQL-reproducible token hash).
    // SimHash recomputed: per-token poly hash, two affine mixes packed to
    // 60 bits, per-bit +/-1 votes, sign -> bit. Docs with no tokens -> 0.
    QuerySpec("q36_simhash", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextFns.simhash64(col("text")).as("simhash"))
    },
      raw"""WITH ${simhashCtes()}
        |SELECT d.doc_id, coalesce(sim.simhash, 0) AS simhash
        |FROM documents d LEFT JOIN sim ON sim.doc_id = d.doc_id""".stripMargin),

    // Document fingerprint (rolling polynomial hash; rows-only).
    QuerySpec("q37_fingerprint", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextFns.fingerprint(col("text")).as("fingerprint"))
    },
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT, list_transform(
        |      regexp_extract_all(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), '.'),
        |      c -> ascii(c)::BIGINT)),
        |    (acc, ch) -> (acc * 31 + ch) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin),

    // Per-language exact token-count percentiles (p25/p50/p95, linear
    // interpolation) — the corpus length profile a mixture designer reads
    // before setting context budgets.
    QuerySpec("q87_length_percentiles", (s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("lang"), TextFns.tokenCount(col("text")).cast("double").as("n"))
      d.groupBy(col("lang"))
        .agg(expr("percentile(n, array(0.25D, 0.5D, 0.95D))").as("__p"),
          count(lit(1)).as("n_docs"))
        .select(col("lang"),
          round(element_at(col("__p"), 1), 6).as("p25"),
          round(element_at(col("__p"), 2), 6).as("p50"),
          round(element_at(col("__p"), 3), 6).as("p95"),
          col("n_docs"))
    },
      """WITH d AS (SELECT lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
        |SELECT lang,
        |  round(quantile_cont(n, 0.25), 6) AS p25,
        |  round(quantile_cont(n, 0.5), 6) AS p50,
        |  round(quantile_cont(n, 0.95), 6) AS p95,
        |  count(*) AS n_docs
        |FROM d GROUP BY lang""".stripMargin),

    // REAL image decode in the gate: render a solid-gray PNG per doc
    // (dimensions/level closed-form in doc_id), decode it back through the
    // JDK ImageIO codec, and let the oracle recompute the expected
    // metadata arithmetically. Any codec/pixel corruption breaks the hash.
    QuerySpec("q74_image_decode", (s, dir) => {
      import graft.multimodal.Multimodal
      val genPng = udf { (id: Long) =>
        val w = (1 + id % 16).toInt; val h = (1 + id % 11).toInt
        val g = (id % 256).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val rgb = (g << 16) | (g << 8) | g
        var y = 0
        while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id").isNotNull)
        .withColumn("media", genPng(col("doc_id")))
      Multimodal.withRealImageMeta(media, "media")
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("format"),
          col("mean_band0").cast("long").as("mean_band0"))
    },
      """SELECT doc_id, 1 + doc_id % 16 AS width, 1 + doc_id % 11 AS height,
        |  'png' AS format, doc_id % 256 AS mean_band0
        |FROM documents WHERE doc_id IS NOT NULL""".stripMargin),

    // REAL audio decode in the gate: synthesize a PCM WAV per doc
    // (rate/channels/frames/payload closed-form in doc_id), decode it
    // back through the JDK javax.sound codec, and let the oracle
    // recompute the expected metadata arithmetically — the audio mirror
    // of q74. pcm_sum proves the data chunk round-trips byte-exact.
    // pcm_sum closed form: sum_{i<n} (doc_id+i)%256 with s=doc_id%256,
    // full=n//256, rem=n%256 → full*32640 + (tail series, wrap-aware).
    QuerySpec("q84_audio_decode", (s, dir) => {
      import graft.multimodal.Multimodal
      val genWav = udf { (id: Long) =>
        val rate = (id % 3) match { case 0 => 8000f; case 1 => 16000f; case _ => 44100f }
        val channels = (1 + id % 2).toInt
        val frames = (50 + id % 200).toInt
        val nBytes = frames * channels * 2
        val data = new Array[Byte](nBytes)
        var i = 0
        while (i < nBytes) { data(i) = ((id + i) % 256).toByte; i += 1 }
        val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels,
          true, false) // 16-bit signed PCM little-endian
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      }
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id").isNotNull)
        .withColumn("media", genWav(col("doc_id")))
      Multimodal.withAudioMeta(media, "media")
        .select(col("doc_id"), col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("bits").cast("long").as("bits"), col("frames"),
          expr("(frames * 1000000) div sample_rate").as("duration_us"),
          col("container"), col("pcm_sum"))
    },
      """WITH p AS (SELECT doc_id,
        |    CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END
        |      AS BIGINT) AS sample_rate,
        |    1 + doc_id % 2 AS channels, 50 + doc_id % 200 AS frames
        |  FROM documents WHERE doc_id IS NOT NULL),
        |q AS (SELECT *, doc_id % 256 AS s,
        |    frames * channels * 2 AS n FROM p)
        |SELECT doc_id, sample_rate, channels, CAST(16 AS BIGINT) AS bits, frames,
        |  (frames * 1000000) // sample_rate AS duration_us,
        |  'wave' AS container,
        |  CAST((n // 256) * 32640 +
        |    CASE WHEN s + (n % 256) <= 256
        |      THEN (n % 256) * s + ((n % 256) * ((n % 256) - 1)) // 2
        |      ELSE (256 - s) * s + ((256 - s) * (255 - s)) // 2
        |           + ((n % 256 - 256 + s) * (n % 256 - 256 + s - 1)) // 2
        |    END AS BIGINT) AS pcm_sum
        |FROM q""".stripMargin),

    // REAL video CONTAINER metadata in the gate: synthesize an AVI (even
    // ids) or MP4 (odd ids) with closed-form header fields, parse the
    // RIFF chunks / ISO-BMFF boxes back with the pure-JDK parser, and let
    // the oracle recompute every field arithmetically — the video mirror
    // of q74/q84. Frame PIXEL decode stays stubbed (no codec in the JDK);
    // everything here reads real container bytes.
    // every field recomputed from the closed-form header plant: AVI fps is
    // the strh rational (rate/scale), AVI duration uses the TRUNCATED
    // µs-per-frame (1000000 // rate) exactly as the container stores it;
    // MP4 duration is exact by construction (movDuration = timescale × s)
    QuerySpec("q94_video_meta", (s, dir) => {
      import graft.multimodal.{Multimodal, VideoContainers}
      val genVideo = udf { (id: Long) =>
        val w = (160 + id % 320).toInt; val h = (90 + id % 240).toInt
        if (id % 2 == 0)
          VideoContainers.synthAvi(w, h, frames = 100 + id % 500,
            rate = 24 + id % 30, scale = 1L)
        else
          VideoContainers.synthMp4(w, h, movTimescale = 600 + id % 400,
            movDuration = (600 + id % 400) * (5 + id % 20),
            mediaTimescale = 2400 + id % 100,
            sampleCount = 200 + id % 300, sampleDelta = 100 + id % 50)
      }
      val media = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id").isNotNull)
        .withColumn("media", genVideo(col("doc_id")))
      Multimodal.withVideoMeta(media, "media")
        .select(col("doc_id"), col("container"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("fps"), 6).as("fps"), col("duration_us"),
          col("n_frames"))
    },
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'avi' ELSE 'mp4' END AS container,
        |  CAST(160 + doc_id % 320 AS BIGINT) AS width,
        |  CAST(90 + doc_id % 240 AS BIGINT) AS height,
        |  round(CASE WHEN doc_id % 2 = 0 THEN CAST(24 + doc_id % 30 AS DOUBLE)
        |    ELSE CAST(2400 + doc_id % 100 AS DOUBLE) / (100 + doc_id % 50) END, 6) AS fps,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |    THEN (100 + doc_id % 500) * (1000000 // (24 + doc_id % 30))
        |    ELSE (5 + doc_id % 20) * 1000000 END AS BIGINT) AS duration_us,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 100 + doc_id % 500
        |    ELSE 200 + doc_id % 300 END AS BIGINT) AS n_frames
        |FROM documents WHERE doc_id IS NOT NULL""".stripMargin),

    // REAL video FRAME decode (MJPEG, pure JDK): per-supplier 3-frame
    // MJPEG AVIs whose solid-gray frames encode (s_suppkey + frame) % 4
    // on a 64-level grid. The query walks the RIFF movi chunks, ImageIO-
    // decodes each JPEG frame, and recovers the level from the PIXEL
    // mean via floor(mean/64) — planted margin 32 vs JPEG error ±2, so
    // the oracle is exact integer arithmetic. Any break in the chain
    // (RIFF structure, chunk extraction, JPEG bytes, raster stats)
    // shifts a level and breaks the hash.
    QuerySpec("q98_video_frames", (s, dir) => {
      import graft.multimodal.{Multimodal, VideoContainers}
      val genMjpeg = udf { (id: Long) =>
        VideoContainers.synthMjpegAvi(16, 16, rate = 25, scale = 1,
          grays = Seq.tabulate(3)(i => (32 + 64 * ((id + i) % 4)).toInt))
      }
      val media = t(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("s_suppkey"))
        .withColumn("media", genMjpeg(col("s_suppkey")))
      Multimodal.withVideoFrames(media, "media", every = 1)
        .select(col("s_suppkey"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("frame_width").cast("long").as("frame_width"),
          col("frame_height").cast("long").as("frame_height"),
          floor(col("mean_luma") / 64).cast("long").as("gray_level"))
    },
      """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey,
        |  t.i AS frame_idx,
        |  CAST(16 AS BIGINT) AS frame_width,
        |  CAST(16 AS BIGINT) AS frame_height,
        |  (s_suppkey + t.i) % 4 AS gray_level
        |FROM supplier CROSS JOIN range(3) t(i)""".stripMargin),

    // Repetition ratio (Gopher-style boilerplate signal): 1 - distinct/total
    // word bigrams per doc.
    QuerySpec("q76_repetition", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        round(TextFns.repetitionRatio(col("text"), 2), 6).as("rep2"))
    },
      """WITH base AS (SELECT doc_id, trim(lower(text)) AS lt FROM documents),
        |tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lt, '\s+')) AS w,
        |    unnest(range(1, len(regexp_split_to_array(lt, '\s+')) + 1)) AS pos
        |  FROM base WHERE lt IS NOT NULL AND lt <> ''),
        |bi AS (SELECT doc_id,
        |    w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
        |  FROM tok QUALIFY bg IS NOT NULL),
        |r AS (SELECT doc_id,
        |    round(1.0 - CAST(count(DISTINCT bg) AS DOUBLE) / count(*), 6) AS rr
        |  FROM bi GROUP BY 1)
        |SELECT b.doc_id,
        |  CASE WHEN b.lt IS NULL THEN NULL
        |       WHEN r.rr IS NOT NULL THEN r.rr
        |       ELSE 0.0 END AS rep2
        |FROM base b LEFT JOIN r USING (doc_id)""".stripMargin),

    // Composite training-data filter: language + quality gate, per-source.
    QuerySpec("q45_quality_filter", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("lang_pred", TextFns.langId(col("text")))
        .withColumn("quality", TextFns.qualityScore(col("text")))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), round(avg(col("quality")), 6).as("avg_quality"))
    },
      """WITH d AS (SELECT doc_id, source, text,
        |  regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks,
        |  regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sc AS (SELECT doc_id, source, text, toks,
        |  len(list_filter(ltoks, t -> t IN ('the','and','of','is','with'))) AS s_en,
        |  len(list_filter(ltoks, t -> t IN ('der','und','die','ist','mit'))) AS s_de,
        |  len(list_filter(ltoks, t -> t IN ('le','et','les','est','avec'))) AS s_fr,
        |  len(list_filter(ltoks, t -> t IN ('el','y','los','es','con'))) AS s_es,
        |  len(list_filter(ltoks, t -> t IN ('de5','shi4','le5','he2','zai4'))) AS s_zh
        |  FROM d),
        |q AS (SELECT doc_id, source,
        |  CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
        |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
        |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
        |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
        |       WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
        |       ELSE 'zh' END AS lang_pred,
        |  round((least(length(text) / 500.0, 1.0)
        |    + (1.0 - least(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) * 5.0
        |        / length(text), 1.0))
        |    + least(len(list_filter(toks, t -> lower(t) IN ('the','a','an','and','or','of',
        |        'to','in','is','it','for','on','with','as','at','by','this','that')))
        |        * 4.0 / len(toks), 1.0)) / 3.0, 6) AS quality
        |  FROM sc)
        |SELECT source, count(*) AS n_docs, round(avg(quality), 6) AS avg_quality
        |FROM q WHERE lang_pred = 'en' AND quality >= 0.5
        |GROUP BY source""".stripMargin),

    // Multimodal plumbing: binary media column + deterministic fake decode
    // (schema/partitioning real; codec stubbed — see Multimodal docs).
    // BYTE-based, not char-based: the Spark side reads binary media, so the
    // oracle measures the UTF-8 encoding (octet_length + hex-substr byte
    // extraction) — identical on ASCII, still correct if the fixture ever
    // grows non-ASCII text.
    QuerySpec("q46_multimodal_meta", (s, dir) => {
      import graft.multimodal.Multimodal
      val media = t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      Multimodal.withImageMeta(media, "media")
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("first_byte").cast("long").as("first_byte"),
          col("last_byte").cast("long").as("last_byte"))
    },
      """WITH b AS (SELECT doc_id, encode(text) AS bs,
        |  octet_length(encode(text)) AS n FROM documents)
        |SELECT doc_id,
        |  CASE WHEN n > 0 THEN 1 + n % 64 END AS width,
        |  CASE WHEN n > 0 THEN 1 + (n * 7) % 64 END AS height,
        |  CASE WHEN n > 0 THEN n END AS n_bytes,
        |  CASE WHEN n > 0
        |    THEN CAST(('0x' || substr(hex(bs), 1, 2)) AS INT)::BIGINT END AS first_byte,
        |  CASE WHEN n > 0
        |    THEN CAST(('0x' || substr(hex(bs), n * 2 - 1, 2)) AS INT)::BIGINT END AS last_byte
        |FROM b""".stripMargin),

    // HyperLogLog register table over the corpus token stream: bucket =
    // affine-mix-100 of the poly hash mod 256, rho from the bit length
    // of affine-mix-101 — integer arithmetic end-to-end, so the oracle
    // reproduces every register exactly. The sketch is the mergeable
    // distinct-cardinality profile: only ≤ 256 partially-maxed rows
    // ever shuffle.
    // HLL registers: the q24 poly fold re-scrambled by affine salts
    // 100/101 (same family as the minhash permutations), bucket mod 256,
    // rho from the unpadded binary length — all integer.
    QuerySpec("q139_hll_registers", (s, dir) => {
      import graft.functions.{Sketches, TextFns}
      val toks = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(explode(TextFns.tokens(lower(col("text")))).as("term"))
      Sketches.hllRegisters(toks, "term", p = 8)
    },
      {
      def poly(s: String) =
        s"list_reduce(list_prepend(0::BIGINT, list_transform(" +
          s"regexp_extract_all($s, '.'), c -> ascii(c)::BIGINT)), " +
          s"(acc, ch) -> (acc * 31 + ch) % 1000000007)"
      s"""WITH tok AS (SELECT unnest(
         |    regexp_split_to_array(trim(lower(text)), '\\s+')) AS s
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         |h AS (SELECT ${poly("s")} AS base FROM tok),
         |hh AS (SELECT
         |    ((201 * 104729) % 1000000007 * base + (100 * 12582917 + 7))
         |      % 1000000007 AS a1,
         |    ((203 * 104729) % 1000000007 * base + (101 * 12582917 + 7))
         |      % 1000000007 AS a2 FROM h),
         |mx AS (SELECT (a1 * a1 % 1000000007 + a1) % 1000000007 AS b1,
         |    (a2 * a2 % 1000000007 + a2) % 1000000007 AS b2 FROM hh)
         |SELECT b1 % 256 AS bucket,
         |  max(CASE WHEN b2 = 0 THEN 31 ELSE 31 - length(bin(b2)) END)
         |    AS rho_max
         |FROM mx GROUP BY 1""".stripMargin
    }),

    // HLL estimate + the exact distinct count side by side: the 2^-rho
    // sum is dyadic-exact in IEEE double, so raw estimate, branch
    // decision, and the 6-dp rounding all reproduce bit-for-bit in
    // DuckDB. exact_distinct quantifies the sketch's actual error.
    // HLL estimate: 2^-rho via an integer shift (exact dyadic double),
    // alpha_m in the engine's exact op order, linear-counting branch on
    // the bit-identical raw estimate; exact distinct alongside.
    QuerySpec("q140_hll_estimate", (s, dir) => {
      import graft.functions.{Sketches, TextFns}
      val toks = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(explode(TextFns.tokens(lower(col("text")))).as("term"))
      Sketches.hllEstimate(Sketches.hllRegisters(toks, "term", p = 8), p = 8)
        .crossJoin(toks.agg(countDistinct(col("term")).as("exact_distinct")))
    },
      {
      def poly(s: String) =
        s"list_reduce(list_prepend(0::BIGINT, list_transform(" +
          s"regexp_extract_all($s, '.'), c -> ascii(c)::BIGINT)), " +
          s"(acc, ch) -> (acc * 31 + ch) % 1000000007)"
      s"""WITH tok AS (SELECT unnest(
         |    regexp_split_to_array(trim(lower(text)), '\\s+')) AS s
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         |h AS (SELECT ${poly("s")} AS base FROM tok),
         |hh AS (SELECT
         |    ((201 * 104729) % 1000000007 * base + (100 * 12582917 + 7))
         |      % 1000000007 AS a1,
         |    ((203 * 104729) % 1000000007 * base + (101 * 12582917 + 7))
         |      % 1000000007 AS a2 FROM h),
         |mx AS (SELECT (a1 * a1 % 1000000007 + a1) % 1000000007 AS b1,
         |    (a2 * a2 % 1000000007 + a2) % 1000000007 AS b2 FROM hh),
         |reg AS (SELECT b1 % 256 AS bucket,
         |    max(CASE WHEN b2 = 0 THEN 31 ELSE 31 - length(bin(b2)) END)
         |      AS rho_max FROM mx GROUP BY 1),
         |ag AS (SELECT count(*) AS present,
         |    sum(1.0::DOUBLE / (1::BIGINT << rho_max)) AS sm FROM reg),
         |raws AS (SELECT 256 - present AS v_zero,
         |    (((0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE /
         |      256.0::DOUBLE)) * 256.0::DOUBLE) * 256.0::DOUBLE)
         |      / (sm + CAST(256 - present AS DOUBLE)) AS raw FROM ag),
         |ex AS (SELECT count(DISTINCT s) AS exact_distinct FROM tok)
         |SELECT CAST(v_zero AS BIGINT) AS v_zero,
         |  round(CASE WHEN raw <= 640.0::DOUBLE AND v_zero > 0
         |    THEN 256.0::DOUBLE * ln(256.0::DOUBLE / v_zero)
         |    ELSE raw END, 6) AS estimate,
         |  exact_distinct
         |FROM raws CROSS JOIN ex""".stripMargin
    }),

    // Count-min register table (depth 4 × width 256) over the same token
    // stream — the mergeable per-key frequency profile (point estimates
    // take the min over rows; one-sided error). Integer-exact oracle.
    // Count-min registers: row i rehashes with affine salt 200+i; the
    // cell is the double-mod (perm % p) % 256 — exactly the engine's.
    QuerySpec("q141_cms_registers", (s, dir) => {
      import graft.functions.{Sketches, TextFns}
      val toks = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(explode(TextFns.tokens(lower(col("text")))).as("term"))
      Sketches.cmsRegisters(toks, "term", depth = 4, width = 256)
        .select(col("row").as("hash_row"), col("col").as("hash_col"),
          col("cnt"))
    },
      {
      def poly(s: String) =
        s"list_reduce(list_prepend(0::BIGINT, list_transform(" +
          s"regexp_extract_all($s, '.'), c -> ascii(c)::BIGINT)), " +
          s"(acc, ch) -> (acc * 31 + ch) % 1000000007)"
      s"""WITH tok AS (SELECT unnest(
         |    regexp_split_to_array(trim(lower(text)), '\\s+')) AS s
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         |h AS (SELECT ${poly("s")} AS base FROM tok),
         |cells AS (SELECT i AS hash_row,
         |    ((2 * (200 + i) + 1) * 104729 % 1000000007 * base +
         |      ((200 + i) * 12582917 + 7)) % 1000000007 AS pm
         |  FROM h CROSS JOIN range(4) t(i))
         |SELECT hash_row,
         |  (pm * pm % 1000000007 + pm) % 1000000007 % 256 AS hash_col,
         |  count(*) AS cnt
         |FROM cells GROUP BY 1, 2""".stripMargin
    }),

    // Per-group HLL: distinct tokens per `source` — the scale
    // replacement for COUNT(DISTINCT) GROUP BY (only <= 256 register
    // rows per group shuffle, not the (group, key) pairs). Estimate and
    // exact side by side per group.
    // Per-source HLL: q140's chain with GROUP BY source carried through
    // registers, estimate, and the exact distinct comparison.
    QuerySpec("q142_hll_by_source", (s, dir) => {
      import graft.functions.{Sketches, TextFns}
      val toks = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("source"),
          explode(TextFns.tokens(lower(col("text")))).as("term"))
      Sketches.hllEstimateBy(
          Sketches.hllRegistersBy(toks, Seq("source"), "term", p = 8),
          Seq("source"), p = 8)
        .join(toks.groupBy(col("source"))
          .agg(countDistinct(col("term")).as("exact_distinct")), Seq("source"))
    },
      {
      def poly(s: String) =
        s"list_reduce(list_prepend(0::BIGINT, list_transform(" +
          s"regexp_extract_all($s, '.'), c -> ascii(c)::BIGINT)), " +
          s"(acc, ch) -> (acc * 31 + ch) % 1000000007)"
      s"""WITH tok AS (SELECT source, unnest(
         |    regexp_split_to_array(trim(lower(text)), '\\s+')) AS s
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         |h AS (SELECT source, ${poly("s")} AS base FROM tok),
         |hh AS (SELECT source,
         |    ((201 * 104729) % 1000000007 * base + (100 * 12582917 + 7))
         |      % 1000000007 AS a1,
         |    ((203 * 104729) % 1000000007 * base + (101 * 12582917 + 7))
         |      % 1000000007 AS a2 FROM h),
         |mx AS (SELECT source,
         |    (a1 * a1 % 1000000007 + a1) % 1000000007 AS b1,
         |    (a2 * a2 % 1000000007 + a2) % 1000000007 AS b2 FROM hh),
         |reg AS (SELECT source, b1 % 256 AS bucket,
         |    max(CASE WHEN b2 = 0 THEN 31 ELSE 31 - length(bin(b2)) END)
         |      AS rho_max FROM mx GROUP BY 1, 2),
         |ag AS (SELECT source, count(*) AS present,
         |    sum(1.0::DOUBLE / (1::BIGINT << rho_max)) AS sm
         |  FROM reg GROUP BY 1),
         |raws AS (SELECT source, 256 - present AS v_zero,
         |    (((0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE /
         |      256.0::DOUBLE)) * 256.0::DOUBLE) * 256.0::DOUBLE)
         |      / (sm + CAST(256 - present AS DOUBLE)) AS raw FROM ag),
         |ex AS (SELECT source, count(DISTINCT s) AS exact_distinct
         |  FROM tok GROUP BY 1)
         |SELECT r.source, CAST(v_zero AS BIGINT) AS v_zero,
         |  round(CASE WHEN raw <= 640.0::DOUBLE AND v_zero > 0
         |    THEN 256.0::DOUBLE * ln(256.0::DOUBLE / v_zero)
         |    ELSE raw END, 6) AS estimate,
         |  exact_distinct
         |FROM raws r JOIN ex USING (source)""".stripMargin
    }),

    // CMS point estimates under the gate: probe the 5 most frequent
    // tokens (count-desc, name-asc tie-break — deterministic in both
    // engines) and surface estimate vs true count side by side; the
    // oracle recomputes registers, probe cells, and the min-over-rows.
    // CMS probes: q141's register CTE + the same salt-200+i cell hash on
    // the 5 most frequent tokens, est = min over rows (absent cell = 0).
    QuerySpec("q143_cms_estimate", (s, dir) => {
      import graft.functions.{Sketches, TextFns}
      val toks = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(explode(TextFns.tokens(lower(col("text")))).as("term"))
      val top = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term").asc).limit(5)
        .collect().map(_.getString(0)).toSeq
      Sketches.cmsEstimate(
          Sketches.cmsRegisters(toks, "term", depth = 4, width = 256),
          top, depth = 4, width = 256)
        .join(toks.groupBy(col("term").as("key"))
          .agg(count(lit(1)).as("true_cnt")), Seq("key"))
    },
      {
      def poly(s: String) =
        s"list_reduce(list_prepend(0::BIGINT, list_transform(" +
          s"regexp_extract_all($s, '.'), c -> ascii(c)::BIGINT)), " +
          s"(acc, ch) -> (acc * 31 + ch) % 1000000007)"
      s"""WITH tok AS (SELECT unnest(
         |    regexp_split_to_array(trim(lower(text)), '\\s+')) AS s
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         |h AS (SELECT ${poly("s")} AS base FROM tok),
         |cells AS (SELECT i AS hash_row,
         |    ((2 * (200 + i) + 1) * 104729 % 1000000007 * base +
         |      ((200 + i) * 12582917 + 7)) % 1000000007 AS pm
         |  FROM h CROSS JOIN range(4) t(i)),
         |reg AS (SELECT hash_row,
         |    (pm * pm % 1000000007 + pm) % 1000000007 % 256 AS hash_col,
         |    count(*) AS cnt FROM cells GROUP BY 1, 2),
         |top AS (SELECT s AS key, count(*) AS true_cnt FROM tok
         |  GROUP BY 1 ORDER BY true_cnt DESC, key ASC LIMIT 5),
         |pc AS (SELECT key, true_cnt, i AS hash_row,
         |    (pp * pp % 1000000007 + pp) % 1000000007 % 256 AS hash_col
         |  FROM (SELECT key, true_cnt, i,
         |      ((2 * (200 + i) + 1) * 104729 % 1000000007 * ${poly("key")} +
         |        ((200 + i) * 12582917 + 7)) % 1000000007 AS pp
         |    FROM top CROSS JOIN range(4) t(i)))
         |SELECT key, min(coalesce(cnt, 0)) AS est, true_cnt
         |FROM pc LEFT JOIN reg USING (hash_row, hash_col)
         |GROUP BY key, true_cnt""".stripMargin
    }),

    // HLL set overlap without a join: token vocabularies of the even-id
    // and odd-id document halves, their union sketch (register max), and
    // the inclusion-exclusion intersection estimate — all from two
    // ≤ 256-row register relations.
    // HLL intersection: the q139 register CTE per document-id-parity
    // side, the union by register max, and three identical estimate
    // blocks combined by inclusion-exclusion on the ROUNDED values.
    QuerySpec("q144_hll_intersect", (s, dir) => {
      import graft.functions.{Sketches, TextFns}
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
      def toks(even: Boolean) = docs
        .filter(if (even) col("doc_id") % 2 === 0 else col("doc_id") % 2 =!= 0)
        .select(explode(TextFns.tokens(lower(col("text")))).as("term"))
      Sketches.hllIntersect(
        Sketches.hllRegisters(toks(even = true), "term", p = 8),
        Sketches.hllRegisters(toks(even = false), "term", p = 8), p = 8)
    },
      {
      def poly(s: String) =
        s"list_reduce(list_prepend(0::BIGINT, list_transform(" +
          s"regexp_extract_all($s, '.'), c -> ascii(c)::BIGINT)), " +
          s"(acc, ch) -> (acc * 31 + ch) % 1000000007)"
      def side(n: String, pred: String) =
        s"""tok_$n AS (SELECT unnest(
           |    regexp_split_to_array(trim(lower(text)), '\\s+')) AS s
           |  FROM documents
           |  WHERE text IS NOT NULL AND trim(text) <> '' AND $pred),
           |h_$n AS (SELECT ${poly("s")} AS base FROM tok_$n),
           |hh_$n AS (SELECT
           |    ((201 * 104729) % 1000000007 * base + (100 * 12582917 + 7))
           |      % 1000000007 AS a1,
           |    ((203 * 104729) % 1000000007 * base + (101 * 12582917 + 7))
           |      % 1000000007 AS a2 FROM h_$n),
           |mx_$n AS (SELECT (a1 * a1 % 1000000007 + a1) % 1000000007 AS b1,
           |    (a2 * a2 % 1000000007 + a2) % 1000000007 AS b2 FROM hh_$n),
           |reg_$n AS (SELECT b1 % 256 AS bucket,
           |    max(CASE WHEN b2 = 0 THEN 31 ELSE 31 - length(bin(b2)) END)
           |      AS rho_max FROM mx_$n GROUP BY 1)""".stripMargin
      def est(reg: String, out: String) =
        s"""ag_$out AS (SELECT count(*) AS present,
           |    sum(1.0::DOUBLE / (1::BIGINT << rho_max)) AS sm FROM $reg),
           |raw_$out AS (SELECT 256 - present AS vz,
           |    (((0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE /
           |      256.0::DOUBLE)) * 256.0::DOUBLE) * 256.0::DOUBLE)
           |      / (sm + CAST(256 - present AS DOUBLE)) AS raw
           |  FROM ag_$out),
           |e_$out AS (SELECT round(CASE
           |    WHEN raw <= 640.0::DOUBLE AND vz > 0
           |    THEN 256.0::DOUBLE * ln(256.0::DOUBLE / vz)
           |    ELSE raw END, 6) AS $out FROM raw_$out)""".stripMargin
      s"""WITH ${side("a", "doc_id % 2 = 0")},
         |${side("b", "doc_id % 2 <> 0")},
         |reg_u AS (SELECT bucket, max(rho_max) AS rho_max FROM
         |  (SELECT * FROM reg_a UNION ALL SELECT * FROM reg_b) GROUP BY 1),
         |${est("reg_a", "est_a")},
         |${est("reg_b", "est_b")},
         |${est("reg_u", "est_union")}
         |SELECT est_a, est_b, est_union,
         |  round(greatest(0.0::DOUBLE, est_a + est_b - est_union), 6)
         |    AS est_intersect
         |FROM e_est_a CROSS JOIN e_est_b CROSS JOIN e_est_union""".stripMargin
    }),

    // BLOOM membership — the third sketch-family member: filter built
    // from the "already ingested" id set (doc_id % 3 = 0), then EVERY
    // doc probed against it. mBits=1024 at ~170 history keys ≈ 0.5 fill,
    // so the probe set exercises true members (never false-negative),
    // true negatives AND a measurable false-positive band — all gated
    // exactly, since registers and probe bits are integer arithmetic in
    // both engines (affine salts 300+i over the engine-wide poly hash).
    // Bloom registers + probes in pure integer arithmetic: poly hash of
    // the id STRING, affine salts 300..303, quadratic mix, mod 1024.
    // Per-key probe bits keep duplicates (two hashes can share a bit),
    // matching the engine's sum-of-matches == kHashes rule.
    QuerySpec("q150_bloom_membership", (s, dir) => {
      import graft.functions.Sketches
      val docs = t(s, dir, "documents")
      val hist = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").cast("string").as("k"))
      val regs = Sketches.bloomRegisters(hist, "k", mBits = 1024, kHashes = 4)
      val probes = docs.select(col("doc_id").cast("string").as("k"))
      val mc = Sketches.bloomMightContain(probes, "k", regs,
        mBits = 1024, kHashes = 4)
      regs.select(lit("bit").as("kind"), col("bit").cast("long").as("k"),
          lit(1L).as("v"))
        .unionByName(mc.select(lit("probe").as("kind"),
          col("k").cast("long").as("k"),
          when(col("might_contain"), 1L).otherwise(0L).as("v")))
    },
      raw"""WITH hist AS (SELECT CAST(doc_id AS VARCHAR) AS s
        |  FROM documents WHERE doc_id % 3 = 0),
        |hbase AS (SELECT list_reduce(list_prepend(0::BIGINT,
        |    list_transform(regexp_extract_all(s, '.'),
        |      c -> ascii(c)::BIGINT)),
        |    (acc, ch) -> (acc * 31 + ch) % 1000000007) AS base FROM hist),
        |hb AS (SELECT DISTINCT (h * h % 1000000007 + h) % 1000000007
        |    % 1024 AS bit
        |  FROM (SELECT ((((2 * (300 + i) + 1) * 104729) % 1000000007)
        |      * base + ((300 + i) * 12582917 + 7) % 1000000007)
        |      % 1000000007 AS h
        |    FROM hbase CROSS JOIN range(4) t(i))),
        |probes AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS s
        |  FROM documents),
        |pbase AS (SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
        |    list_transform(regexp_extract_all(s, '.'),
        |      c -> ascii(c)::BIGINT)),
        |    (acc, ch) -> (acc * 31 + ch) % 1000000007) AS base FROM probes),
        |pb AS (SELECT doc_id, (h * h % 1000000007 + h) % 1000000007
        |    % 1024 AS bit
        |  FROM (SELECT doc_id, ((((2 * (300 + i) + 1) * 104729)
        |      % 1000000007) * base + ((300 + i) * 12582917 + 7)
        |      % 1000000007) % 1000000007 AS h
        |    FROM pbase CROSS JOIN range(4) t(i))),
        |mc AS (SELECT p.doc_id,
        |  CAST(CASE WHEN count(hb.bit) = 4 THEN 1 ELSE 0 END AS BIGINT) AS v
        |  FROM pb p LEFT JOIN hb ON hb.bit = p.bit GROUP BY p.doc_id)
        |SELECT 'bit' AS kind, CAST(bit AS BIGINT) AS k, 1::BIGINT AS v
        |FROM hb
        |UNION ALL SELECT 'probe', doc_id, v FROM mc""".stripMargin),

    // STUPID-BACKOFF n-gram LM (Brants et al. 2007 — the distributed LM
    // recipe: raw count tables, backoff at query time). LM counts from
    // the doc_id % 3 <> 0 split; EVERY doc scored, so held-out docs
    // exercise the bigram/unigram backoff paths. The gate is the exact
    // integer fingerprint of the scoring join — per-doc chosen-order
    // counts plus numerator/denominator sums — never a float logprob.
    // Positioned tokens with truncated context for BOTH relations, three
    // count tables from the % 3 <> 0 split, then the five-way left join
    // with the backoff CASE — `NgramLm.backoffPositions` replayed, all
    // integer (DuckDB sum() is HUGEINT, hence the casts).
    QuerySpec("q155_backoff_lm", (s, dir) => {
      import graft.functions.NgramLm
      val docs = t(s, dir, "documents")
      val lm = docs.filter(col("doc_id") % 3 =!= 0)
      NgramLm.backoffDocStats(docs, lm, "doc_id", "text")
    },
      (s"WITH $backoffLmCtes\n" +
        "SELECT doc_id, n_pos, n_tri, n_bi, n_uni, sum_num, sum_den " +
        "FROM stats")),

    // WARC ROUND TRIP: documents rendered as deterministic HTML pages,
    // written as 3 record-gzipped WARC shards (the CommonCrawl layout:
    // one gzip member per record), read back through the Content-
    // Length-authoritative parser + HTTP response parse. The oracle
    // rebuilds every page closed-form in SQL, so the gate proves WARC
    // framing, header lifting, status/content-type parse, and the
    // UTF-8 body round trip value-exactly. HTML-escape of the text
    // (& < > -> entities) rides along so the q200 extraction chain has
    // a real decode to undo.
    // q199: the WARC round trip -- the engine writes record-gzipped
    // WARC shards and reads them back through Content-Length framing +
    // HTTP parse; the oracle rebuilds every page closed-form from
    // `documents` (same construction as [[warcPages]]), so any drift in
    // framing, header lifting, status parse, HTML escape, or UTF-8
    // decode breaks the hash.
    QuerySpec("q199_warc_roundtrip", (s, dir) => {
      import graft.sources.Warc
      val base = scratchDir("graft_warc").resolve("crawl").toString
      Warc.write(warcPages(t(s, dir, "documents")).repartition(3),
        base, gzip = true)
      Warc.read(s, base)
        .select(col("target_uri"), col("http_status"),
          col("http_content_type"), col("body"))
    },
      raw"""SELECT 'http://' || source || '.example.com/doc/' || doc_id
         |    AS target_uri,
         |  CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END
         |    AS INTEGER) AS http_status,
         |  'text/html; charset=utf-8' AS http_content_type,
         |  '<html><head><title>doc ' || doc_id ||
         |  '</title><script>var x="<p>no</p>";</script></head><body><p>'
         |  || replace(replace(replace(coalesce(text, ''),
         |       '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
         |  '</p><a href="http://out' || (doc_id % 5) ||
         |  '.example.org/p?b=2&a=1">next</a><!-- c --></body></html>'
         |    AS body
         |FROM documents""".stripMargin),

    // CRAWL EXTRACTION CHAIN: the same WARC shards scanned back, 404s
    // dropped, and the HTML layer peeled off with the deterministic
    // regexp chain -- title, visible text (block tags -> line breaks,
    // entities decoded, whitespace collapsed), outlinks with canonical
    // form (query params sorted) and host. The oracle derives every
    // output closed-form from the page construction -- an INDEPENDENT
    // derivation, not the same regexes replayed -- so chain bugs can't
    // cancel.
    // q200: the crawl extraction chain -- the oracle DERIVES the
    // expected title/text/links closed-form from the page construction
    // (an independent derivation, not the Spark regex chain replayed),
    // so an extraction bug and a construction bug cannot cancel. The
    // only text normalization the fixture can exercise is space-run
    // collapse + trim (the synthetic corpus is single-line); the chain
    // steps with no closed form here (script/comment removal, entity
    // decode, block->newline) are pinned by WarcSpec on adversarial
    // fixtures.
    QuerySpec("q200_html_extract", (s, dir) => {
      import graft.functions.TextFns
      import graft.sources.Warc
      val base = scratchDir("graft_warc2").resolve("crawl").toString
      Warc.write(warcPages(t(s, dir, "documents")).repartition(3),
        base, gzip = true)
      val got = Warc.read(s, base).filter(col("http_status") === 200)
      got.select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          TextFns.htmlTitle(col("body")).as("title"),
          TextFns.htmlToText(col("body")).as("text"),
          TextFns.htmlLinks(col("body")).as("__l"))
        .select(col("doc_id"), col("title"), col("text"),
          size(col("__l")).as("n_links"),
          element_at(col("__l"), 1).as("link"),
          TextFns.urlCanonicalize(element_at(col("__l"), 1))
            .as("link_canon"),
          TextFns.urlHost(element_at(col("__l"), 1)).as("link_host"))
    },
      raw"""SELECT doc_id, 'doc ' || doc_id AS title,
         |  'doc ' || doc_id || chr(10) ||
         |    trim(regexp_replace(text, '[ ' || chr(9) || ']+', ' ', 'g'))
         |    || chr(10) || 'next' AS text,
         |  CAST(1 AS INTEGER) AS n_links,
         |  'http://out' || (doc_id % 5) || '.example.org/p?b=2&a=1'
         |    AS link,
         |  'http://out' || (doc_id % 5) || '.example.org/p?a=1&b=2'
         |    AS link_canon,
         |  'out' || (doc_id % 5) || '.example.org' AS link_host
         |FROM documents WHERE doc_id % 7 <> 0""".stripMargin),

    // RECRAWL SCHEDULING: observation histories with three planted
    // change behaviors (frozen / alternating / every-5th), change rate
    // by integer cross-multiplication over consecutive-fetch
    // fingerprint transitions, hot/warm/cold tiers driving the next
    // visit -- the fetch-budget policy layer over q202's crawl delta.
    // q223: the planted change behaviors re-derived, consecutive-fetch
    // transitions via lag, tier by integer cross-multiplication.
    QuerySpec("q223_recrawl_schedule", (s, dir) => {
      import graft.operators.Crawl
      val k = floor(col("doc_id") / lit(100.0)).cast("long")
      val g = (col("doc_id") % 100) % 3
      val obs = t(s, dir, "documents").select(
        concat(lit("u"), (col("doc_id") % 100).cast("string")).as("url"),
        col("doc_id").cast("long").as("ts"),
        when(g === 0, lit(0L))
          .when(g === 1, pmod(k, lit(2L)))
          .otherwise(when(pmod(k, lit(5L)) === 0, lit(1L))
            .otherwise(lit(0L))).as("fp"))
      Crawl.recrawlSchedule(obs, "url", "ts", "fp", hotPct = 60,
        warmPct = 20, hotEvery = 100L, warmEvery = 1000L,
        coldEvery = 10000L)
    },
      raw"""WITH o AS (SELECT 'u' || (doc_id % 100) AS url,
         |    CAST(doc_id AS BIGINT) AS ts,
         |    CAST(CASE WHEN (doc_id % 100) % 3 = 0 THEN 0
         |         WHEN (doc_id % 100) % 3 = 1 THEN (doc_id // 100) % 2
         |         ELSE CASE WHEN (doc_id // 100) % 5 = 0 THEN 1
         |              ELSE 0 END END AS BIGINT) AS fp
         |  FROM documents),
         |c AS (SELECT url, ts, fp,
         |    lag(fp) OVER (PARTITION BY url ORDER BY ts, fp) AS pfp
         |  FROM o),
         |g AS (SELECT url, CAST(count(*) AS BIGINT) AS n_obs,
         |    CAST(COALESCE(sum(CASE WHEN pfp IS NOT NULL AND fp <> pfp
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_changes,
         |    max(ts) AS last_ts FROM c GROUP BY url)
         |SELECT url, n_obs, n_changes, last_ts,
         |  CASE WHEN n_obs >= 2 AND n_changes * 100 >= 60 * (n_obs - 1)
         |      THEN 'hot'
         |    WHEN n_obs >= 2 AND n_changes * 100 >= 20 * (n_obs - 1)
         |      THEN 'warm'
         |    ELSE 'cold' END AS tier,
         |  last_ts + CASE
         |    WHEN n_obs >= 2 AND n_changes * 100 >= 60 * (n_obs - 1)
         |      THEN 100
         |    WHEN n_obs >= 2 AND n_changes * 100 >= 20 * (n_obs - 1)
         |      THEN 1000
         |    ELSE 10000 END AS next_visit
         |FROM g""".stripMargin),

    // POLITENESS FETCH SCHEDULE: Crawl-delay parsed under the same
    // RFC 9309 group selection as q204 (named group shadows *, max
    // delay among binding groups, malformed ignored), then per-host
    // fetch slots at slot*delay -- the serialization a polite crawler
    // precomputes. The oracle derives delays closed-form from the
    // fixture's host arithmetic, never parsing.
    // q233: delays closed-form from the fixture's host arithmetic
    // (even hosts: the graftbot group's 2+h%5 shadows the * group's 9;
    // h%4==1: the * group's 7; h%4==3: malformed value ignored →
    // caller default 5), slots by the same per-host url-order rank.
    QuerySpec("q233_fetch_schedule", (s, dir) => {
      import graft.operators.Crawl
      val robots = s.range(0, 10).select(
        concat(lit("h"), col("id").cast("string"), lit(".example.org"))
          .as("host"),
        when(col("id") % 2 === 0, concat(
            lit("User-agent: graftbot\nCrawl-delay: "),
            (col("id") % 5 + 2).cast("string"),
            lit("\nDisallow: /x\n\nUser-agent: *\nCrawl-delay: 9\n" +
              "Disallow: /y")))
          // fractional delay: the wild's "6.5" ceils to 7 (the
          // conservative read), so the oracle's integer 7 still holds
          .when(col("id") % 4 === 1,
            lit("User-agent: *\nCrawl-delay: 6.5\nDisallow: /y"))
          .otherwise(lit("User-agent: *\nDisallow: /z\n" +
            "Crawl-delay: oops")).as("txt"))
      val delays = Crawl.crawlDelays(robots, "host", "txt", "graftbot")
      val urls = t(s, dir, "documents").select(
        concat(lit("http://h"), (col("doc_id") % 10).cast("string"),
          lit(".example.org/p"), col("doc_id").cast("string")).as("url"))
      Crawl.fetchSchedule(urls, "url", delays, defaultDelay = 5L)
    },
      raw"""WITH u AS (SELECT
         |    'http://h' || (doc_id % 10) || '.example.org/p' || doc_id
         |      AS url,
         |    'h' || (doc_id % 10) || '.example.org' AS host,
         |    doc_id % 10 AS h
         |  FROM documents),
         |dl AS (SELECT h, CAST(CASE WHEN h % 2 = 0 THEN h % 5 + 2
         |    WHEN h % 4 = 1 THEN 7 ELSE 5 END AS BIGINT) AS delay
         |  FROM (SELECT DISTINCT doc_id % 10 AS h FROM documents)),
         |r AS (SELECT u.url, u.host, dl.delay,
         |    CAST(row_number() OVER (PARTITION BY u.host
         |      ORDER BY u.url) - 1 AS BIGINT) AS slot
         |  FROM u JOIN dl ON dl.h = u.h)
         |SELECT url, host, delay, slot,
         |  CAST(slot * delay AS BIGINT) AS fetch_at FROM r""".stripMargin),

    // QUALITY-FILTER CALIBRATION SWEEP: the q156 LM-fluency lattice
    // against ten candidate thresholds at once -- documents and tokens
    // surviving each cut, the curve a curator reads before committing
    // a filter. One broadcast 10-row cross + map-side-combined agg.
    // q234: the q156 lattice crossed with the ten thresholds, survival
    // counts per cut.
    QuerySpec("q234_filter_calibration", (s, dir) => {
      import graft.functions.NgramLm
      val docs = t(s, dir, "documents")
      val lm = docs.filter(col("doc_id") % 3 =!= 0)
      val scored = NgramLm.lmFitScores(docs, lm, "doc_id", "text")
      val withTok = scored.join(docs.select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tok")),
        Seq("doc_id"))
      val thresholds = s.range(0, 10)
        .select((col("id") * 100000L).as("threshold"))
      withTok.crossJoin(broadcast(thresholds))
        .filter(col("lm_fit_ppm") >= col("threshold"))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tok_kept"))
    },
      (s"WITH $backoffLmCtes,\n" +
        raw"""scored AS (SELECT doc_id,
           |  CAST(floor(CAST(n_tri AS DOUBLE) * 1000000 / n_pos)
           |    AS BIGINT) AS lm_fit_ppm FROM stats),
           |wt AS (SELECT s.doc_id, s.lm_fit_ppm,
           |    CAST(len(str_split(trim(d.text), ' ')) AS BIGINT)
           |      AS n_tok
           |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
           |th AS (SELECT CAST(unnest(range(0, 10)) * 100000 AS BIGINT)
           |  AS threshold)
           |SELECT th.threshold, CAST(count(*) AS BIGINT) AS n_kept,
           |  CAST(sum(wt.n_tok) AS BIGINT) AS tok_kept
           |FROM wt, th WHERE wt.lm_fit_ppm >= th.threshold
           |GROUP BY th.threshold""".stripMargin)),

    // POSITIONAL PHRASE SEARCH: exact token-phrase occurrences as a
    // row-local HOF (k equality probes per candidate start -- no
    // postings explode, no join); docs carrying the phrase report
    // match count and first position.
    // q236: the same candidate-start probes on list ops.
    QuerySpec("q236_phrase_search", (s, dir) => {
      import graft.functions.TextFns
      val hits = TextFns.phraseMatches(col("text"), Seq("merge", "slow"))
      t(s, dir, "documents")
        .select(col("doc_id"), hits.as("hits"))
        .filter(size(col("hits")) > 0)
        .select(col("doc_id"), size(col("hits")).as("n_matches"),
          element_at(col("hits"), 1).as("first_pos"))
    },
      raw"""WITH d AS (SELECT doc_id, str_split(trim(text), ' ') AS w
         |  FROM documents),
         |m AS (SELECT doc_id, CASE WHEN len(w) >= 2 THEN
         |    list_filter(range(1, len(w)), p ->
         |      w[p] = 'merge' AND w[p + 1] = 'slow')
         |    ELSE [] END AS hits FROM d)
         |SELECT doc_id, CAST(len(hits) AS INTEGER) AS n_matches,
         |  CAST(hits[1] AS INTEGER) AS first_pos
         |FROM m WHERE len(hits) > 0""".stripMargin),

    // WARC -> WET PIPELINE: the full CommonCrawl production shape --
    // raw response shards scanned, 404s dropped, visible text
    // extracted, and re-archived as `conversion` records (WET) with
    // WARC-Refers-To provenance back to the response record, then the
    // WET shards read back. The oracle derives the conversion payloads
    // closed-form from `documents`, so the gate covers BOTH archive
    // layers plus the extraction in one hash.
    // q206: the WET layer closed-form -- ids re-stamped wet:, text as
    // q200's derivation, provenance pointing at the response id; 404
    // pages (doc_id % 7 = 0) never reach the WET archive.
    QuerySpec("q206_wet_pipeline", (s, dir) => {
      import graft.functions.TextFns
      import graft.sources.Warc
      val base = scratchDir("graft_wet")
      val warcDir = base.resolve("warc").toString
      val wetDir = base.resolve("wet").toString
      Warc.write(warcPages(t(s, dir, "documents")).repartition(3),
        warcDir, gzip = true)
      val texts = Warc.read(s, warcDir)
        .filter(col("http_status") === 200)
        .select(
          regexp_replace(col("record_id"), "^<urn:graft:doc:",
            "<urn:graft:wet:").as("record_id"),
          col("target_uri"), col("warc_date"),
          TextFns.htmlToText(col("body")).as("body"),
          col("record_id").as("refers_to"))
      Warc.writeConversions(texts.repartition(2), wetDir, gzip = true)
      Warc.read(s, wetDir, types = Set("conversion"))
        .select(col("record_id"), col("target_uri"), col("refers_to"),
          col("body").as("text"))
    },
      raw"""SELECT '<urn:graft:wet:' || doc_id || '>' AS record_id,
         |  'http://' || source || '.example.com/doc/' || doc_id
         |    AS target_uri,
         |  '<urn:graft:doc:' || doc_id || '>' AS refers_to,
         |  'doc ' || doc_id || chr(10) ||
         |    trim(regexp_replace(text, '[ ' || chr(9) || ']+', ' ', 'g'))
         |    || chr(10) || 'next' AS text
         |FROM documents WHERE doc_id % 7 <> 0""".stripMargin),

    // MAIN-CONTENT EXTRACTION: the jusText/Readability rule over
    // constructed pages -- a link-only nav div (density 900 ppm-of-
    // percent > 300), a prose paragraph, a MIXED paragraph whose
    // verdict depends on the doc's own word lengths (100·|anchor| vs
    // 30·|text| integer cross-multiply -- both branches fire across
    // the corpus), a too-short block, a link-only footer, and a decoy
    // block inside a script. The oracle rebuilds the expected content
    // closed-form from word arithmetic.
    // q205: expected content from word arithmetic -- block 1 keeps
    // when its 5-word text reaches 10 chars, block 2 additionally
    // needs its single anchor word under 30% of the block text; the
    // nav/tiny/footer/script blocks can never pass and are omitted
    // from the derivation entirely.
    QuerySpec("q205_main_content", (s, dir) => {
      import graft.operators.Crawl
      val w = split(trim(col("text")), " ")
      val page = concat(
        lit("<html><head><script>var nav=\"<p>fake</p>\";</script>" +
          "<title>t</title></head><body>" +
          "<div><a href=\"/\">Home</a> <a href=\"/about\">About</a>" +
          "</div><p>"),
        element_at(w, 1), lit(" "), element_at(w, 2), lit(" "),
        element_at(w, 3), lit(" "), element_at(w, 4), lit(" "),
        element_at(w, 5),
        lit("</p><p>"), element_at(w, 6), lit(" <a href=\"/r\">"),
        element_at(w, 7), lit("</a> "), element_at(w, 8), lit(" "),
        element_at(w, 9), lit(" "), element_at(w, 10),
        lit("</p><p>tiny</p><footer><a href=\"/tos\">Terms</a>" +
          "</footer></body></html>"))
      Crawl.mainContent(
        t(s, dir, "documents").select(col("doc_id"), page.as("html")),
        "doc_id", "html", minChars = 10, maxLinkPct = 30)
    },
      raw"""WITH d AS (SELECT doc_id, str_split(trim(text), ' ') AS w
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    w[1] || ' ' || w[2] || ' ' || w[3] || ' ' || w[4] || ' '
         |      || w[5] AS b1,
         |    w[6] || ' ' || w[7] || ' ' || w[8] || ' ' || w[9] || ' '
         |      || w[10] AS b2,
         |    length(w[7]) AS ll2 FROM d),
         |k AS (SELECT doc_id, b1, b2,
         |    length(b1) >= 10 AS k1,
         |    length(b2) >= 10 AND 100 * ll2 <= 30 * length(b2) AS k2
         |  FROM b)
         |SELECT doc_id,
         |  CASE WHEN k1 AND k2 THEN b1 || chr(10) || b2
         |       WHEN k1 THEN b1 ELSE b2 END AS content
         |FROM k WHERE k1 OR k2""".stripMargin),

    // ROBOTS.TXT FILTER: per-host robots bodies parsed under RFC 9309
    // group semantics (named-agent groups shadow `*`, comment strip,
    // consecutive User-agent runs, ignored fields), then the corpus
    // URL set filtered by longest-match with allow winning ties and
    // REP wildcards (`*`, trailing `$`) compiled to non-foldable LIKE
    // patterns. Even hosts carry a graftbot group (only its rules
    // bind); odd hosts fall back to the `*` group. The oracle derives
    // every verdict closed-form from the fixture's construction -- the
    // parser and matcher never get to agree with themselves.
    // q204: robots verdicts closed-form from the fixture construction:
    // even hosts bind only the graftbot group (path family 1 blocked),
    // odd hosts bind the `*` group (/private/ blocked at length 9,
    // /private/pub re-allowed at length 12, the $-anchored /data*k
    // wildcard blocking family 4 and missing family 5).
    QuerySpec("q204_robots_filter", (s, dir) => {
      import graft.operators.Crawl
      val d = t(s, dir, "documents")
      val k = col("doc_id") % 10
      val host = concat(lit("h"), k.cast("string"), lit(".example.org"))
      val robots = d.filter(col("doc_id") < 10)
        .select(host.as("host"),
          concat(
            lit("# synthetic robots\n"),
            when(col("doc_id") % 2 === 0,
                lit("User-agent: graftbot\nDisallow: /g/\n" +
                  "Crawl-delay: 5\n"))
              .otherwise(lit("")),
            lit("User-agent: otherbot\nUser-agent: *\n" +
              "Disallow: /private/\nAllow: /private/pub\n"),
            lit("Disallow: /data*"), k.cast("string"), lit("$\n"))
            .as("txt"))
      val rules = Crawl.parseRobots(robots, "host", "txt", "graftbot")
      val v = col("doc_id") % 6
      val urls = d.select(col("doc_id"),
        concat(lit("http://"), host,
          when(v === 0, lit("/"))
            .when(v === 1, concat(lit("/g/x"), col("doc_id").cast("string")))
            .when(v === 2, lit("/private/a"))
            .when(v === 3, lit("/private/pub1"))
            .when(v === 4, concat(lit("/data55"), k.cast("string")))
            .otherwise(concat(lit("/data55"), k.cast("string"), lit("/z"))))
          .as("url"))
      Crawl.robotsAllowed(urls, "url", rules)
    },
      raw"""SELECT doc_id,
         |  'http://h' || (doc_id % 10) || '.example.org' ||
         |  CASE doc_id % 6
         |    WHEN 0 THEN '/'
         |    WHEN 1 THEN '/g/x' || doc_id
         |    WHEN 2 THEN '/private/a'
         |    WHEN 3 THEN '/private/pub1'
         |    WHEN 4 THEN '/data55' || (doc_id % 10)
         |    ELSE '/data55' || (doc_id % 10) || '/z' END AS url,
         |  CASE WHEN (doc_id % 10) % 2 = 0 THEN doc_id % 6 <> 1
         |       ELSE doc_id % 6 <> 2 AND doc_id % 6 <> 4 END AS allowed
         |FROM documents""".stripMargin),

    // ANCHOR-TEXT AGGREGATION: every page's <a href>anchor</a> pairs
    // harvested (inner markup stripped), exploded, and grouped by
    // TARGET url -- how the rest of the web describes a page, the
    // classic off-page relevance/quality signal. The fixture wires a
    // deterministic link graph over the corpus (two outlinks per doc,
    // anchor text from the doc's own words, doc_id ≡ 23 mod 25 making
    // both point at one target so n_refs > n_pages is exercised); the
    // oracle derives targets and anchors closed-form from `documents`,
    // independent of the extraction regexes.
    // q203: the anchor-text profile derived closed-form -- targets by
    // the same modular arithmetic, anchors by word slicing, never
    // touching the HTML layer (extraction bugs can't cancel against
    // construction bugs). gcd(5,50)=5 concentrates second-anchor
    // targets on 10 urls (50 refs each) while gcd(3,50)=1 spreads the
    // first -- the skewed in-degree a real link graph has.
    QuerySpec("q203_anchor_text", (s, dir) => {
      import graft.functions.TextFns
      val w = split(trim(col("text")), " ")
      val page = concat(
        lit("<html><body><a href=\"http://t"),
        ((col("doc_id") * 3 + 7) % 50).cast("string"),
        lit(".example.net/\">"), element_at(w, 1), lit(" "),
        element_at(w, 2),
        lit("</a> <a href=\"http://t"),
        ((col("doc_id") * 5 + 11) % 50).cast("string"),
        lit(".example.net/\"><b>"), element_at(w, 3),
        lit("</b></a><a name=\"x\">skip</a></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextFns.htmlAnchors(page)).as("a"))
        .select(col("doc_id"), col("a.href").as("target"),
          col("a.text").as("anchor"))
        .groupBy(col("target"))
        .agg(count(lit(1)).as("n_refs"),
          countDistinct(col("doc_id")).as("n_pages"),
          array_join(array_sort(collect_set(col("anchor"))), "|")
            .as("anchors"))
    },
      raw"""WITH d AS (SELECT doc_id, str_split(trim(text), ' ') AS w
         |  FROM documents),
         |a AS (
         |  SELECT doc_id,
         |    'http://t' || ((doc_id * 3 + 7) % 50) || '.example.net/'
         |      AS target,
         |    w[1] || ' ' || w[2] AS anchor FROM d
         |  UNION ALL
         |  SELECT doc_id,
         |    'http://t' || ((doc_id * 5 + 11) % 50) || '.example.net/'
         |      AS target,
         |    w[3] AS anchor FROM d)
         |SELECT target, CAST(count(*) AS BIGINT) AS n_refs,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages,
         |  string_agg(DISTINCT anchor, '|' ORDER BY anchor) AS anchors
         |FROM a GROUP BY 1""".stripMargin),

    // CRAWL SNAPSHOT DELTA: two monthly-crawl snapshots of the corpus
    // (a slice of URLs gone, a slice new, every fifth page's content
    // changed) diffed on the URL key with content-length fingerprints
    // -- the incremental-ingestion primitive that shrinks a recurring
    // 100 TB pipeline to its added+changed slice. One full-outer
    // shuffle join, presence decided by markers (NOT fingerprint
    // nullability -- two null-fp rows are `unchanged`).
    // q202: the snapshot diff replayed as a FULL OUTER JOIN with
    // presence decided by side-nullness of the join, fingerprints by
    // length arithmetic (the +10 is the literal ' changed x').
    QuerySpec("q202_crawl_delta", (s, dir) => {
      import graft.operators.Crawl
      val d = t(s, dir, "documents")
      val url = concat(lit("http://"), col("source"),
        lit(".example.com/doc/"), col("doc_id").cast("string"))
      val old = d.filter(col("doc_id") % 11 =!= 3)
        .select(url.as("url"), length(col("text")).cast("long").as("fp"))
      val neu = d.filter(col("doc_id") % 7 =!= 0)
        .select(url.as("url"),
          length(when(col("doc_id") % 5 === 0,
              concat(col("text"), lit(" changed x")))
            .otherwise(col("text"))).cast("long").as("fp"))
      Crawl.crawlDelta(old, neu, "url", "fp")
    },
      raw"""WITH o AS (SELECT 'http://' || source || '.example.com/doc/'
         |      || doc_id AS url,
         |    CAST(length(text) AS BIGINT) AS fp
         |  FROM documents WHERE doc_id % 11 <> 3),
         |n AS (SELECT 'http://' || source || '.example.com/doc/'
         |      || doc_id AS url,
         |    CAST(length(text) + CASE WHEN doc_id % 5 = 0 THEN 10
         |      ELSE 0 END AS BIGINT) AS fp
         |  FROM documents WHERE doc_id % 7 <> 0)
         |SELECT coalesce(o.url, n.url) AS url, o.fp AS fp_old,
         |  n.fp AS fp_new,
         |  CASE WHEN o.url IS NULL THEN 'added'
         |       WHEN n.url IS NULL THEN 'removed'
         |       WHEN o.fp = n.fp THEN 'unchanged'
         |       ELSE 'changed' END AS status
         |FROM o FULL OUTER JOIN n ON n.url = o.url""".stripMargin),

    // Heavy-hitter tokens per language via the Misra-Gries typed Aggregator
    // (O(k) state per partition — no full-vocabulary shuffle). Checked
    // invariant: every token with exact count > N/(k+1) is GUARANTEED in
    // the MG summary (Agarwal et al. mergeable-summaries bound), so the
    // provably-heavy set certified present in the sketch — with exact
    // counts — equals a plain SQL aggregate. A lost heavy hitter drops a
    // row and fails the oracle.
    // Misra-Gries inclusion guarantee: the provably-heavy token set
    // (exact count > N/31 per lang, k=30 counters) with exact counts.
    QuerySpec("q56_heavy_hitters", (s, dir) => {
      import graft.functions.HeavyHitters
      val toks = t(s, dir, "documents")
        .select(col("lang"), explode(TextFns.tokens(lower(col("text")))).as("token"))
      val mg = toks.groupBy(col("lang"))
        .agg(HeavyHitters.mgSummary(col("token"), 30).as("mg"))
        .select(col("lang"), explode(col("mg")).as(Seq("token", "approx_count")))
      val exact = toks.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
      // per-lang totals fold over the exact counts — two corpus tokenize
      // scans (mg + exact), not three
      val totals = exact.groupBy(col("lang")).agg(sum(col("n")).as("nl"))
      exact.join(totals, Seq("lang")).filter(col("n") * 31 > col("nl"))
        .join(mg, Seq("lang", "token"), "left_semi")
        .select(col("lang"), col("token"), col("n"))
    },
      """WITH tk AS (SELECT lang,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE coalesce(trim(text), '') <> ''),
        |ex AS (SELECT lang, token, count(*) AS n FROM tk GROUP BY 1, 2),
        |tot AS (SELECT lang, count(*) AS nl FROM tk GROUP BY 1)
        |SELECT lang, token, n FROM ex JOIN tot USING (lang) WHERE n * 31 > nl""".stripMargin),

    // BPE-ish subword counting (token-inflation estimate for budgeting).
    QuerySpec("q54_subword_count", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("n_words"),
        TextFns.subwordCount(col("text")).cast("long").as("n_subwords"))
    },
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
        |  len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]'))
        |    AS n_subwords
        |FROM documents""".stripMargin),

    // Character-shingle cardinality (the dedup signal's raw feature).
    QuerySpec("q55_char_shingles", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        size(TextFns.charShingles(col("text"), 3)).cast("long").as("n_shingles"))
    },
      """WITH n AS (SELECT doc_id,
        |  lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s FROM documents)
        |SELECT doc_id,
        |  CASE WHEN length(s) < 3 THEN 1
        |       ELSE len(list_distinct(list_transform(
        |         range(1, greatest(length(s) - 2, 1) + 1), i -> substr(s, i::INT, 3))))
        |  END AS n_shingles
        |FROM n""".stripMargin),

    // Corpus token histogram: top-20 tokens (deterministic tie-break).
    QuerySpec("q47_token_histogram", (s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextFns.tokens(lower(col("text")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)
    },
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin),

    // TEXT CLEANING + ENCODING-DAMAGE SIGNALS: NFC normalize (JDK
    // normalizer UDF — the rest of the chain is codegen'd regexps),
    // strip non-whitespace control chars, collapse whitespace; count
    // control chars and U+FFFD replacement chars on the RAW text. The
    // cleaned text is pinned by its poly-31 hash under the oracle
    // (DuckDB nfc_normalize — two independent NFC implementations).
    // q167: the cleaning chain replayed with DuckDB's own NFC
    // (nfc_normalize) — independent Unicode implementations must agree
    // on the cleaned text's poly-31 hash; counts are length diffs.
    QuerySpec("q167_clean_text", (s, dir) => {
      import graft.functions.TextFns
      val clean = TextFns.cleanText(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        coalesce(length(col("text")), lit(0)).cast("long")
          .as("n_chars_raw"),
        TextFns.countMatches(coalesce(col("text"), lit("")),
          TextFns.CtrlClass).as("n_ctrl"),
        TextFns.countMatches(coalesce(col("text"), lit("")), "�")
          .as("n_repl"),
        length(clean).cast("long").as("n_chars_clean"),
        TextFns.polyHashUdf(clean).as("clean_hash"))
    },
      {
      val ctrl = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
      raw"""WITH c AS (SELECT doc_id, coalesce(text, '') AS t,
         |  trim(regexp_replace(regexp_replace(
         |    nfc_normalize(coalesce(text, '')), '$ctrl', '', 'g'),
         |    '\s+', ' ', 'g')) AS clean
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(t) AS BIGINT) AS n_chars_raw,
         |  CAST(len(t) - len(regexp_replace(t, '$ctrl', '', 'g'))
         |    AS BIGINT) AS n_ctrl,
         |  CAST(len(t) - len(replace(t, chr(65533), '')) AS BIGINT)
         |    AS n_repl,
         |  CAST(len(clean) AS BIGINT) AS n_chars_clean,
         |  CAST(${phSql("clean")} AS BIGINT) AS clean_hash
         |FROM c""".stripMargin
    }),

    // COLLOCATIONS: bigrams co-occurring >= 2x what independent unigram
    // frequencies predict (PMI >= log 2), c_pair >= 3 — the comparison
    // is integer cross-multiplication and the reported lift an exact
    // ppm floor, riding the same count tables as the backoff LM.
    // q169: unigram/bigram counts recomputed, lift compared by integer
    // cross-multiplication, lift_ppm an exact integer floor division.
    QuerySpec("q169_collocations", (s, dir) => {
      import graft.functions.NgramLm
      NgramLm.collocations(t(s, dir, "documents"), "doc_id", "text",
        minCount = 3L, liftNum = 2L, liftDen = 1L)
    },
      raw"""WITH base AS (SELECT doc_id,
         |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
         |uni AS (SELECT g AS w0, CAST(count(*) AS BIGINT) AS c1
         |  FROM (SELECT unnest(w) AS g FROM base) GROUP BY 1),
         |nn AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM uni),
         |bi0 AS (SELECT
         |    unnest(list_transform(range(1, len(w)), j -> w[j])) AS w1,
         |    unnest(list_transform(range(1, len(w)), j -> w[j+1])) AS w0
         |  FROM base WHERE len(w) >= 2),
         |bi AS (SELECT w1, w0, CAST(count(*) AS BIGINT) AS c2 FROM bi0
         |  GROUP BY 1, 2)
         |SELECT b.w1, b.w0, b.c2 AS c_pair, u1.c1 AS c_left,
         |  u2.c1 AS c_right,
         |  CAST((1000000 * b.c2 * nn.n) // (u1.c1 * u2.c1) AS BIGINT)
         |    AS lift_ppm
         |FROM bi b
         |JOIN uni u1 ON u1.w0 = b.w1
         |JOIN uni u2 ON u2.w0 = b.w0
         |CROSS JOIN nn
         |WHERE b.c2 >= 3 AND 1 * b.c2 * nn.n >= 2 * u1.c1 * u2.c1""".stripMargin),

    // LOG-HISTOGRAM QUANTILE SKETCH (unbounded-range percentiles in one
    // mergeable pass — the DDSketch idea on an integer lattice): octave
    // = binary length (no float log), 8 subcells per octave → ≤ 12.5%
    // cell width, values ≤ 0 in a reserved underflow cell. Registers
    // AND the p50/p90/p99 readout (cell lower bounds, integer ceil
    // ranks) under one oracle hash.
    // q183: the integer log-histogram replayed — binary-length octave,
    // shift-derived subcell, cell-wise counts, integer-ceil ranks over
    // the cumulative (b, sub) order, cell lower bounds by shifts.
    QuerySpec("q183_loghist_quantiles", (s, dir) => {
      import graft.functions.Sketches
      val v = t(s, dir, "lineitem")
        .select(col("l_extendedprice").cast("long").as("v"))
      val regs = Sketches.logHistRegisters(v, "v")
      val qs = Sketches.logHistQuantiles(regs, Seq(0.5, 0.9, 0.99))
      regs.select(lit("reg").as("kind"), col("b").as("k1"),
          col("sub").as("k2"), col("cnt").as("v"))
        .unionByName(qs.select(lit("q").as("kind"), col("q_pct").as("k1"),
          col("rank").as("k2"), col("value_lb").as("v")))
    },
      raw"""WITH vv AS (SELECT CAST(floor(l_extendedprice) AS BIGINT) AS v
         |  FROM lineitem),
         |c AS (SELECT
         |    CASE WHEN v IS NULL OR v <= 0 THEN -1
         |         ELSE len(bin(v)) - 1 END AS b,
         |    CASE WHEN v IS NULL OR v <= 0 THEN 0
         |         WHEN len(bin(v)) - 1 >= 3
         |           THEN (v >> (len(bin(v)) - 4)) - 8
         |         ELSE (v << (4 - len(bin(v)))) - 8 END AS sub
         |  FROM vv),
         |reg AS (SELECT CAST(b AS BIGINT) AS b, CAST(sub AS BIGINT) AS sub,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM c GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM reg),
         |cum AS (SELECT b, sub, cnt,
         |    sum(cnt) OVER (ORDER BY b, sub) AS cm FROM reg),
         |qs(q) AS (VALUES (50), (90), (99)),
         |pick AS (SELECT q.q, greatest(1, (q.q * tot.n + 99) // 100)
         |    AS rank, tot.n
         |  FROM qs q CROSS JOIN tot),
         |sel AS (SELECT p.q, p.rank, p.n,
         |    (SELECT CASE WHEN c2.b < 0 THEN 0
         |       WHEN c2.b >= 3 THEN (8 + c2.sub) << (c2.b - 3)
         |       ELSE (8 + c2.sub) >> (3 - c2.b) END
         |     FROM cum c2 WHERE c2.cm >= p.rank
         |     ORDER BY c2.b, c2.sub LIMIT 1) AS lb
         |  FROM pick p)
         |SELECT 'reg' AS kind, b AS k1, sub AS k2, cnt AS v FROM reg
         |UNION ALL SELECT 'q', CAST(q AS BIGINT), CAST(rank AS BIGINT),
         |  CAST(lb AS BIGINT) FROM sel""".stripMargin),

    // PER-GROUP log-histogram percentiles (the hllRegistersBy companion):
    // one independent ≤513-cell sketch per source, p50/p95 doc lengths
    // read out at integer-ceil ranks — the corpus-report shape at 100 TB
    // (one pass, mergeable, no per-group sort anywhere).
    // q184: the per-source log-histogram replayed with source-partitioned
    // cumulative windows — same integer lattice as q183.
    QuerySpec("q184_loghist_by_source", (s, dir) => {
      import graft.functions.Sketches
      val d = t(s, dir, "documents").select(col("source"), col("n_chars"))
      val regs = Sketches.logHistRegistersBy(d, Seq("source"), "n_chars")
      Sketches.logHistQuantilesBy(regs, "source", Seq(0.5, 0.95))
    },
      raw"""WITH c AS (SELECT source,
         |    CASE WHEN n_chars IS NULL OR n_chars <= 0 THEN -1
         |         ELSE len(bin(n_chars)) - 1 END AS b,
         |    CASE WHEN n_chars IS NULL OR n_chars <= 0 THEN 0
         |         WHEN len(bin(n_chars)) - 1 >= 3
         |           THEN (n_chars >> (len(bin(n_chars)) - 4)) - 8
         |         ELSE (n_chars << (4 - len(bin(n_chars)))) - 8 END AS sub
         |  FROM documents),
         |reg AS (SELECT source, CAST(b AS BIGINT) AS b,
         |    CAST(sub AS BIGINT) AS sub, CAST(count(*) AS BIGINT) AS cnt
         |  FROM c GROUP BY 1, 2, 3),
         |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM reg
         |  GROUP BY 1),
         |cum AS (SELECT source, b, sub, cnt,
         |    sum(cnt) OVER (PARTITION BY source ORDER BY b, sub) AS cm
         |  FROM reg),
         |qs(q) AS (VALUES (50), (95)),
         |pick AS (SELECT t.source, q.q,
         |    greatest(1, (q.q * t.n + 99) // 100) AS rank, t.n
         |  FROM tot t CROSS JOIN qs q),
         |sel AS (SELECT p.source, p.q, p.rank, p.n,
         |    (SELECT CASE WHEN c2.b < 0 THEN 0
         |       WHEN c2.b >= 3 THEN (8 + c2.sub) << (c2.b - 3)
         |       ELSE (8 + c2.sub) >> (3 - c2.b) END
         |     FROM cum c2 WHERE c2.source = p.source AND c2.cm >= p.rank
         |     ORDER BY c2.b, c2.sub LIMIT 1) AS lb
         |  FROM pick p)
         |SELECT source, CAST(q AS BIGINT) AS q_pct,
         |  CAST(rank AS BIGINT) AS rank, n, CAST(lb AS BIGINT) AS value_lb
         |FROM sel""".stripMargin),

    // SITEMAP EXTRACTION: synthetic sitemap / sitemap-index / junk
    // documents -- one row per <loc>, lastmod nullable, &amp; decoded,
    // all codegen'd row-local regex work.
    // q307: the same block/loc/lastmod regexes in RE2, junk rows
    // yielding zero blocks.
    QuerySpec("q307_sitemap", (s, dir) => {
      import graft.operators.Crawl
      val id = col("doc_id").cast("string")
      val xml = when(col("doc_id") % 3 === 0,
        concat(lit("<urlset>\n<url><loc> http://"), col("source"),
          lit(".example.org/p?a=1&amp;b="), id,
          lit(" </loc><lastmod>2026-01-0"),
          (col("doc_id") % 9 + 1).cast("string"),
          lit("</lastmod></url>\n<url><loc>http://"), col("source"),
          lit(".example.org/q"), id, lit("</loc></url>\n</urlset>")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("<sitemapindex><sitemap><loc>http://"),
            col("source"), lit(".example.org/s"), id,
            lit(".xml</loc></sitemap></sitemapindex>")))
        .otherwise(lit("plain text, no sitemap entries"))
      Crawl.sitemapUrls(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          xml.as("xml")),
        "doc_id", "xml")
    },
      raw"""WITH src AS (SELECT doc_id, source,
         |    CASE WHEN doc_id % 3 = 0 THEN
         |      '<urlset>' || chr(10) || '<url><loc> http://' || source
         |      || '.example.org/p?a=1&amp;b=' || doc_id
         |      || ' </loc><lastmod>2026-01-0' || (doc_id % 9 + 1)
         |      || '</lastmod></url>' || chr(10) || '<url><loc>http://'
         |      || source || '.example.org/q' || doc_id
         |      || '</loc></url>' || chr(10) || '</urlset>'
         |    WHEN doc_id % 3 = 1 THEN
         |      '<sitemapindex><sitemap><loc>http://' || source
         |      || '.example.org/s' || doc_id
         |      || '.xml</loc></sitemap></sitemapindex>'
         |    ELSE 'plain text, no sitemap entries' END AS x
         |  FROM documents),
         |u AS (SELECT doc_id AS doc, 'url' AS kind,
         |    unnest(regexp_extract_all(x, '(?s)<url>(.*?)</url>', 1))
         |      AS b FROM src),
         |sm AS (SELECT doc_id AS doc, 'sitemap' AS kind,
         |    unnest(regexp_extract_all(x,
         |      '(?s)<sitemap>(.*?)</sitemap>', 1)) AS b FROM src),
         |a AS (SELECT * FROM u UNION ALL SELECT * FROM sm),
         |ex AS (SELECT doc, kind,
         |    replace(regexp_extract(b, '(?s)<loc>\s*(.*?)\s*</loc>',
         |      1), '&amp;', '&') AS loc,
         |    CASE WHEN regexp_matches(b, '(?s)<lastmod>')
         |      THEN regexp_extract(b,
         |        '(?s)<lastmod>\s*(.*?)\s*</lastmod>', 1) END
         |      AS lastmod
         |  FROM a)
         |SELECT doc, kind, loc, lastmod FROM ex
         |WHERE loc <> ''""".stripMargin)
  )
}
