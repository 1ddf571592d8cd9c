package graft.queries

import graft.core.{GraftQuery, Tables}
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal binary-column plumbing (builder brief): opaque BINARY
  * payloads + typed metadata, offset-based frame sampling, and the
  * partition-batched decode stub. The DuckDB oracle checks the byte-level
  * plumbing on the string side (documents text is pure ASCII, so byte
  * arithmetic == char arithmetic); the decode stub itself is checked by
  * ScalaTest (its features are JVM-md5-derived, not SQL-expressible).
  */
object MultimodalQueries {

  def defs: Seq[GraftQuery] = Seq(

    // ── binary columns + typed metadata + content hash ─────────────────
    GraftQuery(
      "m1_binary_metadata",
      (s, dir) => {
        import s.implicits._
        Multimodal.asMediaTable(Tables.documents(s, dir))
          .select($"media_id", $"kind", $"meta.byte_len".as("byte_len"),
            $"meta.format".as("format"), md5($"bytes").as("content_hash"))
          .orderBy($"media_id")
      },
      Some("""
        SELECT doc_id AS media_id,
          (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
          length(text) AS byte_len,
          'synthetic/v1' AS format,
          md5(text) AS content_hash
        FROM documents ORDER BY media_id""")),

    // ── frame sampling by byte offset (video path, pre-decode) ────────
    GraftQuery(
      "m2_frame_sample",
      (s, dir) => {
        import s.implicits._
        Multimodal.sampleFrames(
          Multimodal.asMediaTable(Tables.documents(s, dir)), everyK = 4)
          .select($"media_id", $"kind", $"frame_idx", $"frame_len",
            $"frame_bytes".cast("string").as("frame_str"))
          .orderBy($"media_id", $"frame_idx")
      },
      Some("""
        WITH media AS (
          SELECT doc_id AS media_id,
            (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
            text, length(text) AS byte_len, 64 AS frame_size
          FROM documents),
        frames AS (
          SELECT media_id, kind, text, frame_size,
            unnest(generate_series(0, greatest(CAST(FLOOR((byte_len - 1) / frame_size) AS INT), 0), 4)) AS frame_idx
          FROM media)
        SELECT media_id, kind, frame_idx,
          length(substring(text, frame_idx * frame_size + 1, frame_size)) AS frame_len,
          substring(text, frame_idx * frame_size + 1, frame_size) AS frame_str
        FROM frames ORDER BY media_id, frame_idx""")),

    // ── partition-batched decode stub → feature stats ─────────────────
    // The stub's feature 0 is ((md5[0]<<8 | md5[0]) / 32768f) - 1 — all
    // power-of-two scaling, so the float roundtrips exactly back to its
    // integer units and the aggregate is an exact BIGINT sum the oracle
    // reproduces from md5 hex. This checks the whole mapPartitions
    // decode pipeline (batching, schema, feature derivation) end-to-end.
    GraftQuery(
      "m3_decode_features",
      (s, dir) => {
        import s.implicits._
        Multimodal.decodeFeatures(
          Multimodal.asMediaTable(Tables.documents(s, dir)), dims = 16)()
          .toDF()
          .groupBy($"kind", $"decoder")
          .agg(count(lit(1)).as("n_media"),
            sum(((element_at($"feature", 1).cast("double") + 1.0) * 32768.0)
              .cast("long")).as("sum_f0_units"))
          .orderBy($"kind")
      },
      Some("""
        WITH feats AS (
          SELECT (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
            CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) AS b0
          FROM documents)
        SELECT kind, 'stub/md5-v1' AS decoder, COUNT(*) AS n_media,
          CAST(SUM(b0 * 256 + b0) AS BIGINT) AS sum_f0_units
        FROM feats GROUP BY kind ORDER BY kind""")),

    // ── batched resize (nearest-neighbor byte sampling) ───────────────
    // Same mapPartitions seam as the decode stub; on the ASCII corpus the
    // byte-level resample is reproducible in SQL character-for-character,
    // so the oracle checks the WHOLE resize path (batching, index map,
    // output payload) via content hash.
    GraftQuery(
      "m4_resize",
      (s, dir) => {
        import s.implicits._
        Multimodal.resizeMedia(
          Multimodal.asMediaTable(Tables.documents(s, dir)), targetLen = 32)()
          .toDF()
          .select($"media_id", $"kind", $"orig_len",
            length($"bytes").as("resized_len"), md5($"bytes").as("content_hash"))
          .orderBy($"media_id")
      },
      Some("""
        SELECT doc_id AS media_id,
          (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
          length(text) AS orig_len,
          length(array_to_string(list_transform(generate_series(0, 31),
            i -> substring(text, CAST((i * length(text)) // 32 AS INT) + 1, 1)), '')) AS resized_len,
          md5(array_to_string(list_transform(generate_series(0, 31),
            i -> substring(text, CAST((i * length(text)) // 32 AS INT) + 1, 1)), '')) AS content_hash
        FROM documents ORDER BY media_id""")),

    // ── overlapping media windows (audio/video chunking) ──────────────
    // The waveform-window analog of x8's token chunking: 96-byte windows
    // at stride 64 (50% lookback), computed purely by offset BEFORE any
    // decode — per-row explode, no shuffle, and the per-chunk content
    // hash is what a dedup/caching layer keys on. Audio rows only, so
    // the kind filter also demonstrates modality routing.
    GraftQuery(
      "m5_media_chunks",
      (s, dir) => {
        import s.implicits._
        Multimodal.chunkMedia(
          Multimodal.asMediaTable(Tables.documents(s, dir))
            .where($"kind" === "audio"), n = 96, stride = 64)
          .select($"media_id", $"chunk_idx", $"chunk_len",
            md5($"chunk_bytes").as("chunk_hash"))
          .orderBy($"media_id", $"chunk_idx")
      },
      Some("""
        WITH media AS (
          SELECT doc_id AS media_id, text, length(text) AS byte_len
          FROM documents
          WHERE (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] = 'audio'),
        chunks AS (
          SELECT media_id, text,
            unnest(generate_series(0,
              CAST(ceil(greatest(byte_len - 96, 0) / 64.0) AS INT))) AS chunk_idx
          FROM media)
        SELECT media_id, chunk_idx,
          length(substring(text, chunk_idx * 64 + 1, 96)) AS chunk_len,
          md5(substring(text, chunk_idx * 64 + 1, 96)) AS chunk_hash
        FROM chunks ORDER BY media_id, chunk_idx""")),

    // ── multimodal training-pair construction (CLIP-style) ────────────
    // The pairing step a contrastive image-text run needs: image-kind
    // media joined to its caption doc (here caption doc_id = media_id+1
    // stands in for an alt-text table), BOTH sides quality-gated (image:
    // payload ≥ 200 bytes; caption: ≥ 10 tokens, English), and a joint
    // pair hash for dedup/caching downstream. Scale shape: one equi-join
    // on the pair key — at 100 TB both sides are parquet tables
    // partitioned compatibly and the gates push into the scans (no
    // post-join filtering of a firehose).
    GraftQuery(
      "m6_pair_construction",
      (s, dir) => {
        import s.implicits._
        import graft.functions.TextFunctions.{langId, tokenCount}
        val media = Multimodal.asMediaTable(Tables.documents(s, dir))
          .where($"kind" === "image" && $"meta.byte_len" >= 200)
          .select($"media_id", $"bytes", $"meta.byte_len".as("byte_len"))
        val captions = Tables.documents(s, dir)
          .where(tokenCount($"text") >= 10 && langId($"text") === "en")
          .select($"doc_id", $"text")
        media.join(captions, media("media_id") + 1 === captions("doc_id"))
          .select($"media_id", $"doc_id".as("caption_id"), $"byte_len",
            tokenCount($"text").as("caption_tokens"),
            md5(concat(md5($"bytes"), lit(":"), md5($"text"))).as("pair_hash"))
          .orderBy($"media_id")
      },
      Some("""
        WITH media AS (
          SELECT doc_id AS media_id, text AS payload, length(text) AS byte_len
          FROM documents
          WHERE (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] = 'image'
            AND length(text) >= 200),
        captions AS (
          SELECT doc_id, text,
            len(regexp_extract_all(text, '[a-zA-Z0-9]+')) AS caption_tokens
          FROM documents
          WHERE len(regexp_extract_all(text, '[a-zA-Z0-9]+')) >= 10
            AND len(regexp_extract_all(lower(text), '\b(the|and|of|is|was)\b')) =
                greatest(
                  len(regexp_extract_all(lower(text), '\b(the|and|of|is|was)\b')),
                  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')),
                  len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')),
                  len(regexp_extract_all(lower(text), '\b(el|los|las|y|es)\b')),
                  len(regexp_extract_all(lower(text), '\b(de|shi|le|zai|you)\b')))
            AND len(regexp_extract_all(lower(text), '\b(the|and|of|is|was)\b')) > 0)
        SELECT m.media_id, c.doc_id AS caption_id, m.byte_len, c.caption_tokens,
          md5(md5(m.payload) || ':' || md5(c.text)) AS pair_hash
        FROM media m JOIN captions c ON m.media_id + 1 = c.doc_id
        ORDER BY m.media_id""")),

    // ── perceptual-hash near-dup pairs (image dedup) ──────────────────
    // The image-side near-dedup every multimodal corpus runs: 64-px
    // average hash on the nearest-neighbor resample grid, 8-byte-band
    // bucketing, exact Hamming filter (≤4 bits of 64). Near-dups are
    // planted by overwriting the first five bytes IN PLACE (+2e12 ids) —
    // a localized pixel edit, the perturbation aHash is built to absorb
    // (an append would shift the whole resample grid: a different
    // image). The Spark side buckets (the 100 TB shape — pigeonhole
    // makes it exact for distance < 8); the oracle brute-force joins,
    // proving the banded plan loses nothing.
    GraftQuery(
      "m7_phash_near_dup",
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir)
          .where(length($"text") >= 5).select($"doc_id", $"text")
        val corpus = base.select($"doc_id", $"text", explode(filter(
          array(lit(0L), lit(2000000000000L)),
          off => (off === 0L) || ($"doc_id" % 5 === 0))).as("off"))
          .select(($"doc_id" + $"off").as("doc_id"),
            when($"off" === 2000000000000L,
              concat(lit("XXXXX"), expr("substring(text, 6)")))
              .otherwise($"text").as("text"))
        Multimodal.phashPairs(corpus, "doc_id", "text", maxDistance = 4)
          .orderBy($"a", $"b")
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE length(text) >= 5
          UNION ALL
          SELECT doc_id + 2000000000000, 'XXXXX' || substr(text, 6)
          FROM documents WHERE doc_id % 5 = 0 AND length(text) >= 5),
        px AS (
          SELECT doc_id,
            list_transform(generate_series(0,63),
              i -> ord(substr(text, CAST(floor(i*length(text)/64) AS INT)+1, 1))) AS p
          FROM corpus),
        sig AS (
          SELECT doc_id,
            CAST(list_sum(list_transform(generate_series(0,31),
              i -> CASE WHEN p[i+1] >= list_sum(p)//64 THEN (1::BIGINT<<i) ELSE 0 END)) AS BIGINT) AS h0,
            CAST(list_sum(list_transform(generate_series(0,31),
              i -> CASE WHEN p[i+33] >= list_sum(p)//64 THEN (1::BIGINT<<i) ELSE 0 END)) AS BIGINT) AS h1
          FROM px)
        SELECT x.doc_id AS a, y.doc_id AS b,
          CAST(bit_count(xor(x.h0, y.h0)) + bit_count(xor(x.h1, y.h1)) AS BIGINT) AS dist
        FROM sig x JOIN sig y ON x.doc_id < y.doc_id
        WHERE bit_count(xor(x.h0, y.h0)) + bit_count(xor(x.h1, y.h1)) <= 4
        ORDER BY a, b""")),

    // ── m8: energy-based media segmentation (VAD / shot detection) ────
    // The segmentation pass every audio/video pipeline runs before
    // transcription or captioning: score each frame, threshold, and
    // collapse consecutive "active" frames into segments. Per-frame
    // energy here is an md5-derived stand-in for decoded RMS (the codec
    // seam is stubbed container-wide — the PLUMBING is what's real:
    // frame explode, per-media windows, gaps-and-islands, exact sums).
    // Scale shape: everything partitions by media_id — the explode, the
    // one window, and the segment groupBy ride a single key shuffle;
    // segments per media are bounded by frame count, state by nothing.
    GraftQuery(
      "m8_energy_segments",
      (s, dir) => {
        import s.implicits._
        val frames = Multimodal.sampleFrames(
          Multimodal.asMediaTable(Tables.documents(s, dir))
            .where($"media_id" % 10 === 0), everyK = 1)
        val en = frames.select($"media_id", $"frame_idx",
          (graft.functions.HashFunctions.md5Long($"frame_bytes".cast("string")) % 1000L)
            .as("energy"))
        en.where($"energy" >= 500L)
          .withColumn("grp", $"frame_idx" - row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"media_id").orderBy($"frame_idx")))
          .groupBy($"media_id", $"grp")
          .agg(min($"frame_idx").as("seg_start"), max($"frame_idx").as("seg_end"),
            count(lit(1)).as("n_frames"), sum($"energy").cast("long").as("sum_energy"))
          .select($"media_id", $"seg_start", $"seg_end", $"n_frames", $"sum_energy")
          .orderBy($"media_id", $"seg_start")
      },
      Some("""
        WITH media AS (
          SELECT doc_id AS media_id, text, length(text) AS byte_len
          FROM documents WHERE doc_id % 10 = 0),
        frames AS (
          SELECT media_id,
            unnest(generate_series(0, greatest(CAST(FLOOR((byte_len - 1) / 64) AS INT), 0), 1)) AS frame_idx,
            text
          FROM media),
        en AS (
          SELECT media_id, frame_idx,
            CAST(concat('0x', substr(md5(substring(text, frame_idx * 64 + 1, 64)), 1, 15)) AS BIGINT) % 1000 AS energy
          FROM frames),
        act AS (
          SELECT media_id, frame_idx, energy,
            frame_idx - row_number() OVER (PARTITION BY media_id ORDER BY frame_idx) AS grp
          FROM en WHERE energy >= 500)
        SELECT media_id, MIN(frame_idx) AS seg_start, MAX(frame_idx) AS seg_end,
          COUNT(*) AS n_frames, CAST(SUM(energy) AS BIGINT) AS sum_energy
        FROM act GROUP BY media_id, grp
        ORDER BY media_id, seg_start""")),

    // ── A/V stream alignment (as-of pairing across modalities) ────────
    // Training pairs for audio-visual models: every video segment takes
    // the LATEST audio segment at-or-before it from the same source
    // group. Segment timelines are synthesized from the media table
    // (deterministic ms offsets; audio cadence 700ms, video 1100ms so
    // alignment is non-trivial), and the as-of is the union-tag +
    // running-last pattern — ONE (group) exchange and an O(1) running
    // struct per key, the q6 discipline, never a range join. Unmatched
    // leading videos emit -1.
    GraftQuery(
      "m9_av_align",
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.asMediaTable(Tables.documents(s, dir))
          .select($"media_id", $"kind", ($"media_id" % 7L).as("grp"))
        val audio = media.filter($"kind" === "audio")
          .select($"grp", ($"media_id" * 700L).as("t_ms"),
            $"media_id".as("audio_id"), lit(0).as("is_v"))
        val video = media.filter($"kind" === "video")
          .select($"grp", ($"media_id" * 1100L).as("t_ms"),
            $"media_id".as("video_id"), lit(1).as("is_v"))
        val tagged = audio.select($"grp", $"t_ms", $"is_v",
            $"audio_id", lit(null).cast("long").as("video_id"))
          .unionByName(video.select($"grp", $"t_ms", $"is_v",
            lit(null).cast("long").as("audio_id"), $"video_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"grp").orderBy($"t_ms", $"is_v", $"video_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        tagged
          .withColumn("last_audio", last($"audio_id", ignoreNulls = true).over(w))
          .where($"is_v" === 1)
          .select($"grp", $"video_id", ($"video_id" * 1100L).as("video_ms"),
            coalesce($"last_audio", lit(-1L)).as("paired_audio"))
          .orderBy($"grp", $"video_id")
      },
      Some("""
        WITH media AS (
          SELECT doc_id AS media_id,
            (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
            doc_id % 7 AS grp
          FROM documents),
        audio AS (
          SELECT grp, media_id * 700 AS t_ms, media_id AS audio_id,
            0 AS is_v, NULL::BIGINT AS video_id
          FROM media WHERE kind = 'audio'),
        video AS (
          SELECT grp, media_id * 1100 AS t_ms, NULL::BIGINT AS audio_id,
            1 AS is_v, media_id AS video_id
          FROM media WHERE kind = 'video'),
        tagged AS (
          SELECT grp, t_ms, is_v, audio_id, video_id FROM audio
          UNION ALL
          SELECT grp, t_ms, is_v, audio_id, video_id FROM video),
        runs AS (
          SELECT grp, t_ms, is_v, video_id,
            last_value(audio_id IGNORE NULLS) OVER (
              PARTITION BY grp ORDER BY t_ms, is_v, video_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_audio
          FROM tagged)
        SELECT grp, video_id, video_id * 1100 AS video_ms,
          COALESCE(last_audio, -1) AS paired_audio
        FROM runs WHERE is_v = 1
        ORDER BY grp, video_id""")),

    // ── per-kind frame budget allocation (x30 for media) ──────────────
    // A multimodal training run buys a fixed decode budget; kinds claim
    // shares proportional to their total frame supply with exact
    // largest-remainder rounding (the x30 Hamilton method — integer
    // div/mod only, no float apportionment). Frame supply derives from
    // byte length over the m2 frame size; the 3-row kind axis makes
    // every window here trivially broadcast-sized.
    GraftQuery(
      "m10_frame_budget",
      (s, dir) => {
        import s.implicits._
        val budget = 5000L
        val counts = Multimodal.asMediaTable(Tables.documents(s, dir))
          .select($"kind", (($"meta.byte_len" + 63L) / 64L).cast("long").as("frames"))
          .groupBy($"kind").agg(sum($"frames").cast("long").as("n_frames"))
        val tot = counts.agg(sum($"n_frames").cast("long").as("n_total"))
        val shares = counts.crossJoin(broadcast(tot))
          .select($"kind", $"n_frames",
            expr(s"($budget * n_frames) div n_total").as("base"),
            expr(s"$budget * n_frames - (($budget * n_frames) div n_total) * n_total").as("rem"))
        val leftover = shares.agg((lit(budget) - sum($"base")).cast("long").as("l"))
        shares.crossJoin(broadcast(leftover))
          .withColumn("pri", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy($"rem".desc, $"kind")).cast("long"))
          .select($"kind", $"n_frames", $"base",
            ($"base" + when($"pri" <= $"l", 1L).otherwise(0L)).as("alloc"))
          .orderBy($"kind")
      },
      Some("""
        WITH media AS (
          SELECT doc_id AS media_id,
            (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
            (length(text) + 63) // 64 AS frames
          FROM documents),
        counts AS (
          SELECT kind, CAST(SUM(frames) AS BIGINT) AS n_frames
          FROM media GROUP BY kind),
        tot AS (SELECT CAST(SUM(n_frames) AS BIGINT) AS n_total FROM counts),
        shares AS (
          SELECT kind, n_frames,
            (5000 * n_frames) // n_total AS base,
            5000 * n_frames - ((5000 * n_frames) // n_total) * n_total AS rem
          FROM counts, tot),
        lo AS (SELECT 5000 - CAST(SUM(base) AS BIGINT) AS l FROM shares),
        ranked AS (
          SELECT kind, n_frames, base, rem,
            CAST(row_number() OVER (ORDER BY rem DESC, kind) AS BIGINT) AS pri
          FROM shares)
        SELECT kind, n_frames, base,
          base + CASE WHEN pri <= l THEN 1 ELSE 0 END AS alloc
        FROM ranked, lo
        ORDER BY kind""")),

    // ── REAL codec: PNG encode → javax.imageio decode roundtrip ───────
    // Real image bytes through the decode seam (no stub): each doc_id
    // becomes a 16×16 grayscale PNG with pixel(x,y) = (id·31+7x+13y)%256,
    // encoded by ImageIO on the EXECUTORS, decoded back by
    // PngCodec.imageIoDecodeBatch through the same partition-batched seam
    // the stub uses. PNG is lossless, so the decoded nearest-neighbor
    // features must equal the generator formula — which the oracle
    // recomputes analytically. The decoder tag in the output proves the
    // real-codec path ran (a fallback to the stub hash-mismatches).
    GraftQuery(
      "m11_png_decode_roundtrip",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            (id, "image",
              graft.multimodal.PngCodec.encodeGray(16, 16,
                (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt))
          }).toDF("media_id", "kind", "bytes")
        Multimodal.decodeFeatures(media, dims = 16)(
          graft.multimodal.PngCodec.imageIoDecodeBatch(16))
          .toDF()
          // feature i samples px(16i) = raster(x=0, y=i): exact k/256
          // floats, so ×256 roundtrips to the integer pixel value
          .select($"media_id", $"decoder",
            aggregate($"feature", lit(0L),
              (a, x) => a + (x * 256f).cast("long")).as("px_units"))
          .orderBy($"media_id")
      },
      Some("""
        SELECT doc_id AS media_id, 'imageio/v1' AS decoder,
          CAST(SUM((doc_id * 31 + 13 * g.i) % 256) AS BIGINT) AS px_units
        FROM documents, generate_series(0, 15) AS g(i)
        GROUP BY doc_id ORDER BY media_id""")),

    // ── REAL codec: decode + raster resize (16×16 → 8×8 NN) ───────────
    // Same real-PNG construction (pixels in printable-ASCII range so the
    // oracle can rebuild the resized payload as a string and match the
    // content hash byte-for-byte): decode the raster, nearest-neighbor
    // resample out(x,y) = px(2x, 2y), emit gray bytes row-major.
    GraftQuery(
      "m12_png_resize_roundtrip",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            (id, "image",
              graft.multimodal.PngCodec.encodeGray(16, 16,
                (x, y) => ((id * 31 + x * 7 + y * 13) % 95 + 32).toInt))
          }).toDF("media_id", "kind", "bytes")
        Multimodal.resizeMedia(media, targetLen = 64)(
          graft.multimodal.PngCodec.imageIoResizeBatch(8, 8))
          .toDF()
          .select($"media_id", length($"bytes").as("resized_len"),
            md5($"bytes").as("content_hash"))
          .orderBy($"media_id")
      },
      Some("""
        SELECT doc_id AS media_id, 64 AS resized_len,
          md5(array_to_string(flatten(list_transform(generate_series(0, 7),
            y -> list_transform(generate_series(0, 7),
              x -> chr(CAST((doc_id * 31 + 14 * x + 26 * y) % 95 + 32 AS INT))))),
            '')) AS content_hash
        FROM documents ORDER BY media_id""")),

    // ── REAL codec: JPEG decode from stored fixtures ──────────────────
    // JPEG is lossy, so no oracle can recompute decode(encode(f)) from
    // the generator formula the way m11/m12 do for PNG. What IS
    // checkable: decoding FIXED real JFIF payloads ([[graft.multimodal
    // .JpegFixtures]] — full entropy-decode + IDCT path, same ImageIO
    // the codec seam uses) must reproduce their recorded rasters. The
    // query pushes the fixture bytes through the SAME batched seam as
    // every other modality (decodeFeatures → imageIoDecodeBatch), grid-
    // samples the feature vector back to integer pixel units (feature
    // k/256 ×256 is exact), and the oracle pins all 48 sampled pixels
    // as literals recorded from the authoritative decode. Scale shape:
    // the seam is mapPartitions-batched; three rows exercise it the
    // same way 3 billion would partition-for-partition.
    GraftQuery(
      "m13_jpeg_decode_fixture",
      (s, dir) => {
        import s.implicits._
        val media = Seq(
          (1L, graft.multimodal.JpegFixtures.gradient),
          (2L, graft.multimodal.JpegFixtures.checker),
          (3L, graft.multimodal.JpegFixtures.radial))
          .toDF("media_id", "b64")
          .select($"media_id", lit("image").as("kind"), unbase64($"b64").as("bytes"))
        Multimodal.decodeFeatures(media, dims = 16)(
          graft.multimodal.PngCodec.imageIoDecodeBatch(16))
          .toDF()
          .select($"media_id", posexplode($"feature").as(Seq("i", "f")))
          .select($"media_id", $"i", ($"f" * 256f).cast("int").as("px"))
          .orderBy($"media_id", $"i")
      },
      Some("""
        SELECT CAST(media_id AS BIGINT) AS media_id, CAST(i AS INT) AS i,
          CAST(px AS INT) AS px
        FROM (VALUES
            (1,0,1),(1,1,4),(1,2,9),(1,3,13),(1,4,16),(1,5,21),(1,6,25),(1,7,28),
            (1,8,33),(1,9,36),(1,10,41),(1,11,45),(1,12,48),(1,13,53),(1,14,57),(1,15,60),
            (2,0,37),(2,1,49),(2,2,30),(2,3,42),(2,4,198),(2,5,210),(2,6,191),(2,7,203),
            (2,8,37),(2,9,49),(2,10,30),(2,11,42),(2,12,198),(2,13,210),(2,14,191),(2,15,203),
            (3,0,225),(3,1,213),(3,2,199),(3,3,188),(3,4,178),(3,5,169),(3,6,165),(3,7,165),
            (3,8,158),(3,9,160),(3,10,164),(3,11,172),(3,12,178),(3,13,185),(3,14,197),(3,15,207)
          ) t(media_id, i, px)
        ORDER BY media_id, i""")),

    // ── REAL codec: RIFF/WAVE PCM-16 decode roundtrip ─────────────────
    // The audio analog of m11: PCM is lossless, so encode→decode through
    // the real container parser ([[graft.multimodal.WavCodec]] — chunk
    // walk, little-endian frames, channel averaging) preserves every
    // sample, and the oracle recomputes the decoded grid samples
    // analytically from the generator formula. One 256-sample clip per
    // document rides the SAME batched seam as the image codecs; feature
    // k = sample(16k)/2¹⁵ is exact in a float, so ×2¹⁵ roundtrips to the
    // integer amplitude the SQL sums.
    GraftQuery(
      "m14_wav_decode_roundtrip",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val samples = Array.tabulate(256)(t =>
              (((id * 31 + t * 7) % 65536) - 32768).toShort)
            (id, "audio", graft.multimodal.WavCodec.encodePcm16(8000, samples))
          }).toDF("media_id", "kind", "bytes")
        Multimodal.decodeFeatures(media, dims = 16)(
          graft.multimodal.WavCodec.wavDecodeBatch(16))
          .toDF()
          .select($"media_id", $"decoder",
            aggregate($"feature", lit(0L),
              (a, x) => a + (x * 32768f).cast("long")).as("amp_units"))
          .orderBy($"media_id")
      },
      Some("""
        SELECT doc_id AS media_id, 'wav/pcm16-v1' AS decoder,
          CAST(SUM((doc_id * 31 + 112 * g.i) % 65536 - 32768) AS BIGINT) AS amp_units
        FROM documents, generate_series(0, 15) AS g(i)
        GROUP BY doc_id ORDER BY media_id""")),

    // ── REAL codec: AIFF (big-endian IFF) decode roundtrip ────────────
    // The second audio container a mixed corpus actually holds. AIFF
    // inverts every byte-level convention WAV set (big-endian samples,
    // COMM/SSND chunks, an 80-bit extended-float sample rate), so a
    // shared-code parser bug can't pass both m14 and this. Same lossless
    // PCM-16 construction and grid-sample oracle as m14; the
    // aiff/pcm16-v1 decoder tag proves the AIFF parser ran (WAV or stub
    // fallback hash-mismatches).
    GraftQuery(
      "m19_aiff_decode_roundtrip",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val samples = Array.tabulate(256)(t =>
              (((id * 31 + t * 7) % 65536) - 32768).toShort)
            (id, "audio", graft.multimodal.AiffCodec.encodePcm16(8000, samples))
          }).toDF("media_id", "kind", "bytes")
        Multimodal.decodeFeatures(media, dims = 16)(
          graft.multimodal.AiffCodec.aiffDecodeBatch(16))
          .toDF()
          .select($"media_id", $"decoder",
            aggregate($"feature", lit(0L),
              (a, x) => a + (x * 32768f).cast("long")).as("amp_units"))
          .orderBy($"media_id")
      },
      Some("""
        SELECT doc_id AS media_id, 'aiff/pcm16-v1' AS decoder,
          CAST(SUM((doc_id * 31 + 112 * g.i) % 65536 - 32768) AS BIGINT) AS amp_units
        FROM documents, generate_series(0, 15) AS g(i)
        GROUP BY doc_id ORDER BY media_id""")),

    // ── mixed-modality dispatch: one pipeline, bytes decide ───────────
    // The production mixed-table shape: a third of the rows carry real
    // PNG, a third real WAV, a third opaque text bytes, all through ONE
    // decodeFeatures pass with the content-sniffing dispatcher
    // ([[Multimodal.autoDecodeBatch]] — image, then RIFF, then stub).
    // The oracle recomputes each row's decoder AND its decoded units
    // analytically (PNG/PCM are lossless; the stub branch contributes
    // its tag with units pinned to 0 — its md5-float features are
    // deliberately not SQL-recomputable, that is the fingerprint's
    // job). Proves per-row dispatch correctness, not just per-kind.
    GraftQuery(
      "m15_mixed_modality_dispatch",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val bytes = (id % 3) match {
              case 0 => graft.multimodal.PngCodec.encodeGray(16, 16,
                (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt)
              case 1 => graft.multimodal.WavCodec.encodePcm16(8000,
                Array.tabulate(256)(t => (((id * 31 + t * 7) % 65536) - 32768).toShort))
              case _ => s"opaque payload $id".getBytes("UTF-8")
            }
            (id, "mixed", bytes)
          }).toDF("media_id", "kind", "bytes")
        Multimodal.decodeFeatures(media, dims = 16)(
          Multimodal.autoDecodeBatch(16))
          .toDF()
          .select($"media_id", $"decoder",
            when($"decoder" === "stub/md5-v1", lit(0L))
              .otherwise(aggregate($"feature", lit(0L),
                (a, x) => a + (x * 32768f).cast("long"))).as("units"))
          .orderBy($"media_id")
      },
      Some("""
        SELECT doc_id AS media_id,
          CASE doc_id % 3 WHEN 0 THEN 'imageio/v1'
                          WHEN 1 THEN 'wav/pcm16-v1'
                          ELSE 'stub/md5-v1' END AS decoder,
          CASE doc_id % 3
            WHEN 0 THEN (SELECT CAST(SUM(((doc_id * 31 + 13 * g.i) % 256) * 128) AS BIGINT)
                         FROM generate_series(0, 15) AS g(i))
            WHEN 1 THEN (SELECT CAST(SUM((doc_id * 31 + 112 * g.i) % 65536 - 32768) AS BIGINT)
                         FROM generate_series(0, 15) AS g(i))
            ELSE 0 END AS units
        FROM documents ORDER BY media_id""")),

    // ── REAL audio feature extraction over the full PCM stream ────────
    // The production audio-quality shape: decode once ([[Multimodal
    // .decodeSamples]] exposes the whole channel-averaged stream as an
    // array column), then compute energy / zero-crossings / peak as
    // codegen'd Spark ARRAY ALGEBRA — `aggregate`/`zip_with`/`slice` per
    // row, NO shuffle anywhere (the final sort is oracle determinism
    // only). All three features are exact integers, so the oracle
    // recomputes them from the m14 generator formula; sign changes use
    // the (v≥0)≠(prev≥0) convention on both sides.
    GraftQuery(
      "m16_audio_features",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val samples = Array.tabulate(256)(t =>
              (((id * 31 + t * 7) % 65536) - 32768).toShort)
            (id, "audio", graft.multimodal.WavCodec.encodePcm16(8000, samples))
          }).toDF("media_id", "kind", "bytes")
        Multimodal.decodeSamples(media)()
          .toDF()
          .select(
            $"media_id",
            aggregate($"samples", lit(0L),
              (a, x) => a + x.cast("long") * x.cast("long")).as("energy_units"),
            array_max(transform($"samples", x => abs(x))).cast("long").as("peak"),
            aggregate(
              zip_with(
                slice($"samples", 1, 255), slice($"samples", 2, 255),
                (a, b) => ((a >= 0) =!= (b >= 0)).cast("long")),
              lit(0L), (acc, x) => acc + x).as("zero_crossings"))
          .orderBy($"media_id")
      },
      Some("""
        WITH s AS (
          SELECT doc_id, g.i AS t,
            (doc_id * 31 + g.i * 7) % 65536 - 32768 AS v
          FROM documents, generate_series(0, 255) AS g(i))
        SELECT doc_id AS media_id,
          CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS energy_units,
          CAST(MAX(ABS(v)) AS BIGINT) AS peak,
          CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
                        THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        FROM (SELECT *, LAG(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv FROM s)
        GROUP BY doc_id ORDER BY media_id""")),

    // ── REAL video container: Y4M frame sampling ──────────────────────
    // YUV4MPEG2 is the public uncompressed interchange format (ffmpeg/
    // mjpegtools); raw planes are lossless, so the [[graft.multimodal
    // .Y4mCodec]] chunk-walking parser is oracle-checkable like PNG/PCM.
    // Every doc carries a 6-frame 8×8 C420 clip; the batched seam
    // decodes AND thins to every-2nd frame in one pass (unsampled frames
    // never become rows — the 100 TB property), then per-frame luma
    // accounting is one row-local `aggregate`.
    GraftQuery(
      "m17_y4m_frame_sample",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val frames = Seq.tabulate(6)(f =>
              Array.tabulate(64)(i => ((id * 31 + f * 17 + i * 5) % 256).toInt))
            (id, "video", graft.multimodal.Y4mCodec.encodeLuma(8, 8, frames))
          }).toDF("media_id", "kind", "bytes")
        Multimodal.decodeFrames(media, everyK = 2)()
          .toDF()
          .select($"media_id", $"frame_idx".cast("long").as("frame_idx"),
            $"decoder",
            aggregate($"luma", lit(0L), (a, x) => a + x).as("luma_units"))
          .orderBy($"media_id", $"frame_idx")
      },
      Some("""
        SELECT doc_id AS media_id, CAST(f.fi AS BIGINT) AS frame_idx,
          'y4m/luma-v1' AS decoder,
          CAST(SUM((doc_id * 31 + f.fi * 17 + g.i * 5) % 256) AS BIGINT) AS luma_units
        FROM documents, (VALUES (0), (2), (4)) AS f(fi),
          generate_series(0, 63) AS g(i)
        GROUP BY doc_id, f.fi ORDER BY media_id, frame_idx""")),

    // ── REAL video container #2: AVI/DIB-8 frame sampling ─────────────
    // The binary-chunked twin of m17's Y4M: AVI stores rows BOTTOM-UP
    // with DWORD stride padding and pixels indirect through a palette —
    // width 6 (stride 8) exercises the pad on every row, so a parser
    // that ignores either convention hash-mismatches immediately.
    // DIB frames are lossless, so the oracle recomputes sampled-frame
    // luma analytically from the generator formula, exactly like m17.
    // Scale shape: one mapPartitions-batched seam pass; every-k
    // sampling inside the decode so unsampled frames never become rows.
    GraftQuery(
      "m20_avi_frame_sample",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val frames = Seq.tabulate(5)(f =>
              Array.tabulate(30)(i => ((id * 31 + f * 17 + i * 5) % 256).toInt))
            (id, "video", graft.multimodal.AviCodec.encodeGray8(6, 5, frames))
          }).toDF("media_id", "kind", "bytes")
        Multimodal.decodeFrames(media, everyK = 2)(
          graft.multimodal.AviCodec.frameSampleBatch(2))
          .toDF()
          .select($"media_id", $"frame_idx".cast("long").as("frame_idx"),
            $"decoder",
            aggregate($"luma", lit(0L), (a, x) => a + x).as("luma_units"))
          .orderBy($"media_id", $"frame_idx")
      },
      Some("""
        SELECT doc_id AS media_id, CAST(f.fi AS BIGINT) AS frame_idx,
          'avi/dib8-v1' AS decoder,
          CAST(SUM((doc_id * 31 + f.fi * 17 + g.i * 5) % 256) AS BIGINT) AS luma_units
        FROM documents, (VALUES (0), (2), (4)) AS f(fi),
          generate_series(0, 29) AS g(i)
        GROUP BY doc_id, f.fi ORDER BY media_id, frame_idx""")),

    // ── REAL video container #3: AVI/MJPEG frame sampling ─────────────
    // The LOSSY video path: `00dc` chunks carrying whole JFIF payloads
    // through the same javax.imageio JPEG decoder the m13 still-image
    // fixtures pin. Lossy codecs can't generator-roundtrip, so — m13's
    // discipline at container scale — every doc carries the SAME
    // three-fixture MJPEG clip (muxed once, closure-shipped) and the
    // oracle pins the decoded frame luma sums as literals
    // (AviCodecSpec re-decodes gradient + radial): gradient 23040,
    // checker 30720, radial 31363; every-2nd sampling keeps frames
    // 0 and 2, and only sampled frames pay the JPEG decode. The
    // decoder tag pins that the real entropy-decode + IDCT ran (a DIB
    // confusion or stub fallback hash-mismatches). Scale shape: one
    // mapPartitions-batched seam pass, same as m17/m20.
    GraftQuery(
      "m21_avi_mjpeg_sample",
      (s, dir) => {
        import s.implicits._
        val dec = java.util.Base64.getDecoder
        val clip = graft.multimodal.AviCodec.encodeMjpeg(16, 16,
          Seq(graft.multimodal.JpegFixtures.gradient,
            graft.multimodal.JpegFixtures.checker,
            graft.multimodal.JpegFixtures.radial).map(dec.decode))
        val media = Tables.documents(s, dir).select($"doc_id").as[Long]
          .mapPartitions(_.map(id => (id, "video", clip)))
          .toDF("media_id", "kind", "bytes")
        Multimodal.decodeFrames(media, everyK = 2)(
          graft.multimodal.AviCodec.mjpegFrameSampleBatch(2))
          .toDF()
          .select($"media_id", $"frame_idx".cast("long").as("frame_idx"),
            $"decoder",
            aggregate($"luma", lit(0L), (a, x) => a + x).as("luma_units"))
          .orderBy($"media_id", $"frame_idx")
      },
      Some("""
        SELECT doc_id AS media_id, CAST(f.fi AS BIGINT) AS frame_idx,
          'avi/mjpeg-v1' AS decoder, CAST(f.s AS BIGINT) AS luma_units
        FROM documents, (VALUES (0, 23040), (2, 31363)) AS f(fi, s)
        ORDER BY media_id, frame_idx""")),

    // ── REAL video container #4: interleaved audio+video AVI ──────────
    // The multi-stream form real muxers emit: one RIFF with a 'vids'
    // DIB-8 strl AND an 'auds' PCM-16 strl (WAVEFORMATEX), movi
    // interleaving 00db/01wb per frame. Both streams decode in ONE
    // batched seam pass (AvClipStats: sampled-frame luma + full PCM L1
    // energy per clip) — the per-clip row a multimodal pipeline stores.
    // Both codecs are lossless, so the oracle recomputes both stream
    // stats analytically; stream-aware strf gating (strh fccType) is
    // what this pins — a parser that reads the audio WAVEFORMATEX as a
    // BITMAPINFOHEADER dies immediately. Map-only plan, no joins.
    GraftQuery(
      "m22_avi_interleaved_stats",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val frames = Seq.tabulate(3)(f =>
              Array.tabulate(30)(i => ((id * 31 + f * 17 + i * 5) % 256).toInt))
            val samples = Array.tabulate(64)(j =>
              (((id * 13 + j * 7) % 2001) - 1000).toShort)
            (id, "video",
              graft.multimodal.AviCodec.encodeGray8WithPcm(6, 5, frames, 8000, samples))
          }).toDF("media_id", "kind", "bytes")
        media.as[(Long, String, Array[Byte])]
          .mapPartitions(_.grouped(64).flatMap(
            graft.multimodal.AviCodec.avStatsBatch(2)))
          .toDF()
          .select($"media_id", $"n_frames_sampled", $"luma_units",
            $"sample_rate", $"n_samples".cast("long").as("n_samples"),
            $"amp_units", $"decoder")
          .orderBy($"media_id")
      },
      Some("""
        WITH v AS (
          SELECT doc_id, CAST(SUM((doc_id * 31 + f.fi * 17 + g.i * 5) % 256) AS BIGINT) AS luma_units
          FROM documents, (VALUES (0), (2)) AS f(fi), generate_series(0, 29) AS g(i)
          GROUP BY doc_id),
        a AS (
          SELECT doc_id, CAST(SUM(ABS((doc_id * 13 + j.j * 7) % 2001 - 1000)) AS BIGINT) AS amp_units
          FROM documents, generate_series(0, 63) AS j(j)
          GROUP BY doc_id)
        SELECT v.doc_id AS media_id, CAST(2 AS INT) AS n_frames_sampled,
          v.luma_units, CAST(8000 AS INT) AS sample_rate,
          CAST(64 AS BIGINT) AS n_samples, a.amp_units,
          'avi/av-v1' AS decoder
        FROM v JOIN a USING (doc_id) ORDER BY media_id""")),

    // ── REAL video container #5: interleaved MJPEG+PCM AVI ────────────
    // The most common real-world AVI: LOSSY video plus audio in one
    // RIFF — m21's `00dc` JFIF chunks and m22's `01wb` PCM-16 stream
    // interleaved per frame, two strh-gated strls. Completes the
    // container matrix's last cell (DIB/MJPEG × silent/interleaved).
    // Video side is fixture-pinned (m21's discipline — lossy can't
    // generator-roundtrip): every doc carries the same muxed 3-fixture
    // clip, every-2nd sampling keeps frames 0 and 2, luma literals
    // 23040 + 31363 = 54403 (AviCodecSpec re-decodes them). Audio is
    // per-doc analytic like m22 (lossless PCM), so the oracle checks
    // both streams through one row. Both decodes happen in ONE batched
    // seam pass; only sampled frames pay the JPEG entropy-decode+IDCT.
    GraftQuery(
      "m23_avi_mjpeg_pcm_stats",
      (s, dir) => {
        import s.implicits._
        val dec = java.util.Base64.getDecoder
        val jpegs = Seq(graft.multimodal.JpegFixtures.gradient,
          graft.multimodal.JpegFixtures.checker,
          graft.multimodal.JpegFixtures.radial).map(dec.decode)
        val media = Tables.documents(s, dir).select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val samples = Array.tabulate(64)(j =>
              (((id * 13 + j * 7) % 2001) - 1000).toShort)
            (id, "video",
              graft.multimodal.AviCodec.encodeMjpegWithPcm(16, 16, jpegs, 8000, samples))
          }).toDF("media_id", "kind", "bytes")
        media.as[(Long, String, Array[Byte])]
          .mapPartitions(_.grouped(64).flatMap(
            graft.multimodal.AviCodec.avMjpegStatsBatch(2)))
          .toDF()
          .select($"media_id", $"n_frames_sampled", $"luma_units",
            $"sample_rate", $"n_samples".cast("long").as("n_samples"),
            $"amp_units", $"decoder")
          .orderBy($"media_id")
      },
      Some("""
        WITH a AS (
          SELECT doc_id, CAST(SUM(ABS((doc_id * 13 + j.j * 7) % 2001 - 1000)) AS BIGINT) AS amp_units
          FROM documents, generate_series(0, 63) AS j(j)
          GROUP BY doc_id)
        SELECT doc_id AS media_id, CAST(2 AS INT) AS n_frames_sampled,
          CAST(54403 AS BIGINT) AS luma_units, CAST(8000 AS INT) AS sample_rate,
          CAST(64 AS BIGINT) AS n_samples, a.amp_units,
          'avi/mjpeg-av-v1' AS decoder
        FROM a ORDER BY media_id""")),

    // ── REAL codecs: mixed PNG/BMP/GIF through ONE content-sniffed pass ─
    // The production shape for a heterogeneous image corpus: each doc_id
    // encodes the SAME 16×16 grayscale raster (m11's generator formula)
    // in a format chosen by id%3 — PNG, BMP, or GIF, all JDK-shipped and
    // all EXACT for 8-bit grayscale — and a single decodeFeatures pass
    // content-sniffs every payload (ImageIO.read dispatches on magic
    // bytes; no per-format branches in the plan). Losslessness makes the
    // m11 oracle formula hold for every row regardless of format, and the
    // decoder tag pins that the REAL codec path ran for all three (a stub
    // fallback on any format hash-mismatches). Scale shape: one
    // mapPartitions-batched seam pass, format mix irrelevant to the plan.
    GraftQuery(
      "m18_mixed_lossless_roundtrip",
      (s, dir) => {
        import s.implicits._
        val media = Tables.documents(s, dir).select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val fmt = (id % 3) match {
              case 0 => "png"; case 1 => "bmp"; case _ => "gif"
            }
            (id, fmt, graft.multimodal.PngCodec.encodeGray(16, 16,
              (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt, fmt))
          }).toDF("media_id", "kind", "bytes")
        Multimodal.decodeFeatures(media, dims = 16)(
          graft.multimodal.PngCodec.imageIoDecodeBatch(16))
          .toDF()
          .select($"media_id", $"kind".as("fmt"), $"decoder",
            aggregate($"feature", lit(0L),
              (a, x) => a + (x * 256f).cast("long")).as("px_units"))
          .orderBy($"media_id")
      },
      Some("""
        SELECT doc_id AS media_id,
          CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
            ELSE 'gif' END AS fmt,
          'imageio/v1' AS decoder,
          CAST(SUM((doc_id * 31 + 13 * g.i) % 256) AS BIGINT) AS px_units
        FROM documents, generate_series(0, 15) AS g(i)
        GROUP BY doc_id ORDER BY media_id"""))
  )
}
