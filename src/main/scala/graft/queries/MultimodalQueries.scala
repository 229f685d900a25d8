package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, Multimodal}

import Kind.Throughput
import Shared._

/** Multimodal binary columns: image, audio and video codecs, dHash
  * near-dup. */
private[queries] object MultimodalQueries {
  /** m7's pair relation from the factored form: identical-hash members
    * pair at hamming 0 (per-class self-join — skew bounded by class size,
    * generation-only work); near-class members expand through the verified
    * class pairs. Both arms emit unique rows, so no distinct runs over the
    * expanded relation. */
  private def dhashPairs(s: SparkSession, dir: String): DataFrame = {
    val (members, classPairs) = dhashRelations(s, dir)
    dhashPairsFrom(members, classPairs)
  }

  /** [[dhashPairs]] over ALREADY-BUILT (members, classPairs) relations —
    * compositions that also need the relations themselves (c8) must not
    * synthesize and dHash the image corpus twice. */
  private def dhashPairsFrom(members: DataFrame, classPairs: DataFrame): DataFrame = {
    val m = members.select(col("cid"), col("id"))
    val same = m.select(col("cid"), col("id").as("id_a"))
      .join(m.select(col("cid"), col("id").as("id_b")), Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0L).as("hamming"))
    val cross = classPairs
      .join(m.select(col("cid").as("cid_a"), col("id").as("ia")), "cid_a")
      .join(m.select(col("cid").as("cid_b"), col("id").as("ib")), "cid_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
    same.unionByName(cross)
  }

  val all: Seq[Query] = Seq(
    // M1 — multimodal decode, oracle-grade: one WAV payload synthesized per
    // user (16-bit PCM, amplitudes 0/±16384 derived from event_id so every
    // feature is exactly representable in float), decoded back through the
    // REAL pure-JVM RIFF/PCM parser (Multimodal.BuiltinDecoder) via the
    // per-partition decode pipeline. The compared features are
    // order-insensitive (frame count, #nonzero via rms², peak), so the
    // oracle recomputes them relationally without replaying sample order.
    Query("m1_wav_features", Throughput, (s, dir) => {
      import s.implicits._
      val samples = ev(s, dir).select(col("user_id"),
        when(pmod(col("event_id"), lit(3)) === 0, 16384)
          .when(pmod(col("event_id"), lit(3)) === 1, -16384)
          .otherwise(0).as("amp"))
      val payloads = samples.groupBy(col("user_id"))
        .agg(collect_list(col("amp")).as("amps"))
        .as[(Long, Array[Int])]
        .map { case (uid, amps) => (uid, Multimodal.encodeWavPcm16(amps)) }
        .toDF("id", "data")
      val media = Multimodal.asMediaFrame(payloads, "id", "data", "audio", "wav")
      Multimodal.decodeFeatures(media, new Multimodal.BuiltinDecoder)(s)
        .select(col("content_id"),
          element_at(col("features"), 2).cast("long").as("n_frames"),
          // rms² · n · 4 = #nonzero samples (|s| ∈ {0, 0.5}) — integer-exact
          round(pow(element_at(col("features"), 3), 2) *
            element_at(col("features"), 2) * 4).cast("long").as("n_nonzero"),
          round(element_at(col("features"), 5) * 2).cast("long").as("peak2"))
    },
      // The WAV payload round-trips through a real RIFF/PCM encode + decode;
      // the oracle recomputes the order-insensitive features relationally.
      """SELECT user_id AS content_id,
        |  COUNT(*) AS n_frames,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 3 IN (0, 1)) AS BIGINT) AS n_nonzero,
        |  CAST(CASE WHEN COUNT(*) FILTER (WHERE event_id % 3 IN (0, 1)) > 0
        |            THEN 1 ELSE 0 END AS BIGINT) AS peak2
        |FROM events GROUP BY 1""".stripMargin),

    // M14 — audio downsampling (integer-factor decimation with a box
    // anti-alias filter — the resample step of an audio-prep pipeline,
    // stub-free because it stays in exact integers): per user, a
    // deterministic PCM sequence (ordered by event_id — the collect is
    // sorted, so the byte stream is reproducible) rides through the REAL
    // WAV encoder and parser, then decimates 4:1 by exact block means
    // (sum div 4 over nonnegative amplitudes; the tail block is dropped on
    // both engines). Emitted features are exact BIGINTs incl. an
    // order-SENSITIVE position-weighted checksum — valid here precisely
    // because the input order is pinned, which is what the oracle's
    // row_number replay states. Same narrow mapPartitions economics as the
    // rest of the codec ladder.
    Query("m14_wav_resample", Throughput, (s, dir) => {
      import s.implicits._
      val samples = ev(s, dir).select(col("user_id"),
        struct(col("event_id"), (pmod(col("event_id"), lit(201)) * 50)
          .cast("int").as("amp")).as("sa"))
      samples.groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("sa"))).as("sas"))
        .as[(Long, Seq[(Long, Int)])]
        .map { case (uid, sas) =>
          val wav = Multimodal.encodeWavPcm16(sas.map(_._2).toArray)
          val dec = Multimodal.decodeWavPcm16Mono(wav)
          val outs = dec.grouped(4).filter(_.length == 4)
            .map(b => b.map(_.toLong).sum / 4).toArray
          val wsum = outs.zipWithIndex
            .map { case (v, b) => v * ((b % 9) + 1) }.sum
          (uid, outs.length.toLong, outs.sum, wsum)
        }
        .toDF("content_id", "n_out", "sum_out", "wsum")
    },
      // The codec round trip is identity on PCM16, so the oracle replays the
      // decimation relationally: the same event_id order (row_number), the
      // same 4-sample blocks, the same floor-div means, tail dropped.
      """WITH s AS (SELECT user_id, event_id,
        |    (event_id % 201) * 50 AS amp FROM events),
        |o AS (SELECT user_id, amp,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn
        |  FROM s),
        |b AS (SELECT user_id, rn // 4 AS blk, SUM(amp) AS bs, COUNT(*) AS bc
        |  FROM o GROUP BY 1, 2),
        |f AS (SELECT user_id, blk, bs // 4 AS outv FROM b WHERE bc = 4)
        |SELECT user_id AS content_id, COUNT(*) AS n_out,
        |  CAST(SUM(outv) AS BIGINT) AS sum_out,
        |  CAST(SUM(outv * ((blk % 9) + 1)) AS BIGINT) AS wsum
        |FROM f GROUP BY 1""".stripMargin),

    // M2 — multimodal image decode, oracle-grade: one 24-bit BMP synthesized
    // per user (pixel channels 0/255 derived from event_id divisibility, so
    // every channel mean times the pixel count is an exact multiple of 255),
    // decoded back through the REAL pure-JVM BITMAPINFOHEADER parser
    // (Multimodal.BuiltinDecoder, bottom-up row order + 4-byte row padding
    // both exercised). The compared features are order-insensitive (dims +
    // the decoder's exact per-channel bright-pixel counts), so the oracle
    // recomputes them relationally without replaying pixel placement.
    Query("m2_bmp_features", Throughput, (s, dir) => {
      import s.implicits._
      val bmpW = 8
      val px = ev(s, dir).select(col("user_id"),
        (when(pmod(col("event_id"), lit(2)) === 0, 255).otherwise(0) +
         when(pmod(col("event_id"), lit(3)) === 0, 255 * 256).otherwise(0) +
         when(pmod(col("event_id"), lit(5)) === 0, 255 * 65536).otherwise(0))
          .as("rgb"))
      val payloads = px.groupBy(col("user_id"))
        .agg(collect_list(col("rgb")).as("pxs"))
        .as[(Long, Array[Int])]
        .map { case (uid, pxs) => (uid, Multimodal.encodeBmp24(pxs, bmpW)) }
        .toDF("id", "data")
      val media = Multimodal.asMediaFrame(payloads, "id", "data", "image", "bmp")
      // per-channel counts come from the decoder's EXACT bright-pixel
      // features (slots 10-12, integer-exact in Float32 to 2^24 px) —
      // reconstructing them from the rounded Float32 channel mean drifts
      // once a user has ~30k+ pixels. Fixture channels are 0/255, so
      // bright (> 127) ≡ channel-set and the oracle's COUNT(*) agrees.
      Multimodal.decodeFeatures(media, new Multimodal.BuiltinDecoder)(s)
        .select(col("content_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 10).cast("long").as("n_blue"),
          element_at(col("features"), 11).cast("long").as("n_green"),
          element_at(col("features"), 12).cast("long").as("n_red"))
    },
      """SELECT user_id AS content_id,
        |  CAST(8 AS BIGINT) AS width,
        |  CAST(CEIL(COUNT(*) / 8.0) AS BIGINT) AS height,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS n_blue,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 3 = 0) AS BIGINT) AS n_green,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 5 = 0) AS BIGINT) AS n_red
        |FROM events GROUP BY 1""".stripMargin),

    // M12 — GIF87a/LZW round trip: the variable-width-LZW member of the
    // codec ladder (BMP/PGM uncompressed, PNG/DEFLATE, JPEG/DCT) — per
    // user, palette indices render through the REAL encoder (dictionary
    // growth, width bumps, KwKwK, 4096-slot clear cycles) and back through
    // the decoder; only order-independent integer features leave
    // (collect_list order is partition-dependent, so the byte length — an
    // order-sensitive LZW artifact — deliberately never surfaces). The
    // oracle recomputes the features from the pixel formula alone: any
    // codec drift (lost/duplicated pixel, bad padding, wrong dims)
    // mismatches.
    Query("m12_gif_features", Throughput, (s, dir) => {
      import s.implicits._
      val payloads = ev(s, dir)
        .select(col("user_id"), pmod(col("event_id"), lit(256)).cast("int").as("idx"))
        .groupBy(col("user_id"))
        .agg(collect_list(col("idx")).as("pxs"))
        .as[(Long, Array[Int])]
        .map { case (uid, pxs) => (uid, graft.ops.Gif.encodeGif8(pxs, 8)) }
        .toDF("id", "data")
      payloads.as[(Long, Array[Byte])].map { case (id, bytes) =>
        val (w, h, n, sum) = graft.ops.Gif.gifFeatures(bytes)
        (id, w.toLong, h.toLong, n, sum)
      }.toDF("content_id", "width", "height", "n_px", "idx_sum")
    },
      // Pixel-formula recomputation, blind to the GIF hop: n from the
      // per-user count, dims from the width-8 zero-padded raster, index sum
      // from event_id % 256 (padding contributes 0).
      """WITH g AS (SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(event_id % 256) AS BIGINT) AS s
        |  FROM events GROUP BY 1)
        |SELECT user_id AS content_id, CAST(8 AS BIGINT) AS width,
        |  CAST((n + 7) // 8 AS BIGINT) AS height,
        |  CAST(8 * ((n + 7) // 8) AS BIGINT) AS n_px,
        |  s AS idx_sum
        |FROM g""".stripMargin),

    // M13 — animated-GIF frame SAMPLING (the m5 MJPEG economics on the
    // LZW container): six frames per user through the real multi-image
    // encoder, then features for every 3rd frame only — unsampled frames
    // are skipped by hopping sub-block length bytes, ZERO LZW work (the
    // property that makes frame sampling at 100 TB cost stride-fraction of
    // the decode, not all of it). Frame f's pixel formula is
    // (event_id·31 + f·17) % 256, so the oracle recomputes sampled-frame
    // sums blind to the container.
    Query("m13_gif_frames", Throughput, (s, dir) => {
      import s.implicits._
      ev(s, dir)
        .select(col("user_id"), col("event_id"))
        .groupBy(col("user_id"))
        .agg(collect_list(col("event_id")).as("ids"))
        .as[(Long, Array[Long])]
        .flatMap { case (uid, ids) =>
          val frames = (0 until 6).map(f =>
            ids.map(id => ((id * 31 + f * 17) % 256).toInt))
          val bytes = graft.ops.Gif.encodeGifAnim(frames, 8)
          graft.ops.Gif.sampledFrameFeatures(bytes, stride = 3)
            .map { case (fr, n, sum) => (uid, fr, n, sum) }
        }
        .toDF("content_id", "frame", "n_px", "idx_sum")
    },
      // m9: VAD segmentation restated as gaps-and-islands over the same
      // event_id-ordered per-user amplitude stream — a segment starts at a
      // voiced row whose predecessor (if any) is silent; run lengths come
      // from grouping voiced rows by their running segment id.
      // Features restated relationally; padding affects only the height
      // ceiling.
      // Sampled frames 0 and 3; per-frame sums from the pixel formula
      // (event_id·31 + f·17) % 256 over the same width-8 padded raster.
      """WITH g AS (SELECT user_id, f.frame, COUNT(*) AS n,
        |    CAST(SUM((event_id * 31 + f.frame * 17) % 256) AS BIGINT) AS s
        |  FROM events, (VALUES (0), (3)) AS f(frame)
        |  GROUP BY 1, 2)
        |SELECT user_id AS content_id, CAST(frame AS INT) AS frame,
        |  CAST(8 * ((n + 7) // 8) AS BIGINT) AS n_px,
        |  s AS idx_sum
        |FROM g""".stripMargin),

    // M6 — resize: nearest-neighbor ×2 downsample as a real binary→binary
    // media transform (decode → integer-grid sample → re-encode), then
    // features on the RESIZED payload. Pixel order now matters (sampling
    // picks positions, not just counts), so the fixture pins it: pixels
    // sort by event_id inside the array (sort_array of structs — exact,
    // layout-independent), and the oracle replays the same rank arithmetic
    // (row = rn div 8, col = rn mod 8, sampled iff both even). Black pad
    // pixels on the trailing partial row are never bright, so sampled pads
    // change no count.
    Query("m6_resize_features", Throughput, (s, dir) => {
      import s.implicits._
      val bmpW = 8
      val px = ev(s, dir).select(col("user_id"), col("event_id"),
        (when(pmod(col("event_id"), lit(2)) === 0, 255).otherwise(0) +
         when(pmod(col("event_id"), lit(3)) === 0, 255 * 256).otherwise(0) +
         when(pmod(col("event_id"), lit(5)) === 0, 255 * 65536).otherwise(0))
          .as("rgb"))
      val payloads = px.groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("event_id"), col("rgb")))).as("pxs"))
        .select(col("user_id"),
          transform(col("pxs"), x => x.getField("rgb")).as("pxs"))
        .as[(Long, Array[Int])]
        .map { case (uid, pxs) =>
          (uid, Multimodal.resizeBmpNearest(Multimodal.encodeBmp24(pxs, bmpW), 2)) }
        .toDF("id", "data")
      val media = Multimodal.asMediaFrame(payloads, "id", "data", "image", "bmp")
      Multimodal.decodeFeatures(media, new Multimodal.BuiltinDecoder)(s)
        .select(col("content_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 10).cast("long").as("n_blue"),
          element_at(col("features"), 11).cast("long").as("n_green"),
          element_at(col("features"), 12).cast("long").as("n_red"))
    },
      // m6: the ×2 nearest-neighbor sample keeps the pixel at (row, col) iff
      // both are even, where rn ranks event_id within user (0-based) and the
      // original image is 8 wide. Resized dims: 4 × ceil(ceil(n/8)/2).
      """WITH p AS (SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn
        |  FROM events),
        |n AS (SELECT user_id, COUNT(*) AS cnt FROM p GROUP BY 1),
        |s AS (SELECT user_id, event_id FROM p
        |      WHERE (rn // 8) % 2 = 0 AND (rn % 8) % 2 = 0)
        |SELECT n.user_id AS content_id,
        |  CAST(4 AS BIGINT) AS width,
        |  CAST(((cnt + 7) // 8 + 1) // 2 AS BIGINT) AS height,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS n_blue,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 3 = 0) AS BIGINT) AS n_green,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 5 = 0) AS BIGINT) AS n_red
        |FROM s JOIN n USING (user_id) GROUP BY 1, cnt""".stripMargin),

    // M7 — IMAGE near-dup via dHash: the multimodal leg of the dedup
    // family. Per-user 9×8 grayscale "avatar tiles" derived from the user
    // relation (family = user_id % 5 shares a base image; users ≥ 75 get
    // ≤ 1 deterministic pixel flip) go through the REAL binary round trip
    // — encodeBmp24 → dhashBmp parses the container — while the oracle
    // recomputes the hash from the pixel formula alone, so any codec or
    // hash-layout drift mismatches. Candidates by 8-bit band equality
    // (pigeonhole: hamming ≤ 7 ⇒ caught), verified by exact popcount;
    // a flipped pixel touches ≤ 2 comparisons, so true near-dups sit at
    // hamming ≤ 2 and cross-family pairs land far above the ≤ 4 cut.
    // All-integer end to end.
    Query("m7_image_neardup", Throughput, (s, dir) => dhashPairs(s, dir),
      // The BMP payload round-trips through a real BITMAPINFOHEADER encode +
      // decode; the oracle recomputes dims and per-channel set-pixel counts
      // relationally (8-wide image, partial last row padded with black).
      // dHash recomputed from the pixel formula alone (never the container):
      // same 9×8 grid, same halves layout, same banding, same popcount cut.
      s"""WITH $dhashPairsCtes
         |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
         |FROM p WHERE hamming <= 4""".stripMargin),

    // M8 — image DUP CLUSTERS: the m7 pair relation fed through the d6
    // connected-components contract (one canonical image per component,
    // never drop-id_b-of-every-pair) — the cross-family composition a
    // multimodal curation pipeline actually runs. Oracle reuses the m7
    // pixel-formula chain + the d6 recursive-reachability labels.
    // CLASS-LEVEL CC (r11 sweep finding, see dhashRelations): identical
    // images are one node, so the iteration runs over the class graph
    // (bounded by image-space size — 365 nodes at 100× data, where the
    // member-pair graph is ~103 M edges) and members inherit their class's
    // component. cluster_id stays the component's min USER id and
    // cluster_size the member count, so the output is row-for-row the old
    // member-level CC's.
    Query("m8_image_clusters", Throughput, (s, dir) => {
      // NOTE (r13 opt, measured and left alone): persisting classPairs
      // DISK_ONLY here (the c8 form) was A/B'd at sf0.1 and came out
      // neutral-to-worse — both classPairs subtrees are plan-identical, so
      // ReusedExchange already shares the band self-join at runtime and the
      // persist only adds a write. c8 keeps its persists because FOUR
      // subtrees reuse the relations there under memory pressure (the c4
      // lesson); two identical references don't justify it.
      val (members, classPairs) = dhashRelations(s, dir)
      val perClass = members.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"), min(col("id")).as("min_id"))
      // in-graph classes: ≥2 members (their hamming-0 pairs are edges) or
      // any cross-class edge; singleton classes with no edge emit nothing
      val withEdge = classPairs.select(col("cid_a").as("cid"))
        .unionByName(classPairs.select(col("cid_b").as("cid"))).distinct()
      val inGraph = perClass.filter(col("n_members") >= 2).select(col("cid"))
        .unionByName(withEdge).distinct()
      // self-edges keep isolated multi-member classes as their own
      // single-class component through the CC contract
      val edges = classPairs.select(col("cid_a"), col("cid_b"))
        .unionByName(inGraph.select(col("cid").as("cid_a"),
          col("cid").as("cid_b")))
      val comp = DedupOps.connectedComponents(edges, "cid_a", "cid_b")
        .select(col("id").as("cid"), col("cluster_id").as("comp"))
      val compAgg = comp.join(perClass, "cid")
        .groupBy(col("comp"))
        .agg(min(col("min_id")).as("cluster_id"),
          sum(col("n_members")).as("cluster_size"))
      members.join(comp, "cid").join(compAgg, "comp")
        .select(col("id").as("user_id"), col("cluster_id"),
          col("cluster_size"))
    },
      // the m7 chain + the d6 recursive-reachability component labels
      s"""WITH RECURSIVE $dhashPairsCtes,
         |pp AS (SELECT id_a, id_b FROM p WHERE hamming <= 4),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pp
         |          UNION SELECT id_b, id_a FROM pp),
         |reach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT re.id, e.dst FROM reach re JOIN edges e ON re.r = e.src),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT l.id AS user_id, l.cluster_id, CAST(c.n AS BIGINT) AS cluster_size
         |FROM lab l JOIN (SELECT cluster_id, count(*) AS n FROM lab GROUP BY 1) c
         |  USING (cluster_id)""".stripMargin),

    // M9 — ORDER-SENSITIVE audio segmentation through the real WAV byte
    // round trip: per-user sample stream (ordered by event_id, amplitudes
    // 0/±16384/8192 from event_id mod 5) encoded with encodeWavPcm16,
    // decoded back sample-by-sample with decodeWavPcm16Mono (the m1
    // feature decoder only exposes order-insensitive aggregates — this is
    // the sample-level path), then energy-gate VAD segmentation
    // (|s| > 4096). Unlike every other m* gate the compared features
    // (segment count, longest voiced run) depend on sample ORDER, so the
    // byte layout of the container is pinned end to end; the oracle
    // restates segmentation relationally as gaps-and-islands over the same
    // event_id-ordered stream. Scale shape: one bounded payload per user
    // assembled map-side; at 100 TB payloads arrive as binary columns and
    // the decode+VAD runs embarrassingly parallel per row.
    // M11 — Netpbm PGM (P5) round trip: the simplest real raster container
    // (scientific/scanner feeds), closing the uncompressed-format ladder
    // under BMP/PNG/JPEG. Per-user grayscale fixture (event_id ≡ 0 mod 3 →
    // 200, else 17) through encodePgm → the strict header-grammar parser →
    // integer features (dims, bright count, exact gray sum). Zero-padding
    // of the last row changes height, never the bright count or sum.
    Query("m11_pgm_features", Throughput, (s, dir) => {
      import s.implicits._
      ev(s, dir).select(col("user_id"), col("event_id"),
          when(pmod(col("event_id"), lit(3)) === 0, 200).otherwise(17).as("g"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("event_id"), col("g")))).as("seq"))
        .select(col("user_id"), expr("transform(seq, x -> x.g)").as("grays"))
        .as[(Long, Array[Int])]
        .map { case (uid, grays) =>
          val (w, h, px) = Multimodal.decodePgm(Multimodal.encodePgm(grays, 8))
          (uid, w.toLong, h.toLong, px.count(_ > 127).toLong,
            px.map(_.toLong).sum)
        }
        .toDF("user_id", "width", "height", "n_bright", "sum_gray")
    },
      """SELECT user_id, CAST(8 AS BIGINT) AS width,
        |  CAST(CEIL(COUNT(*) / 8.0) AS BIGINT) AS height,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 3 = 0) AS BIGINT) AS n_bright,
        |  CAST(200 * COUNT(*) FILTER (WHERE event_id % 3 = 0)
        |       + 17 * COUNT(*) FILTER (WHERE event_id % 3 <> 0) AS BIGINT)
        |    AS sum_gray
        |FROM events GROUP BY 1""".stripMargin),

    Query("m9_audio_segments", Throughput, (s, dir) => {
      import s.implicits._
      val samples = ev(s, dir).select(col("user_id"), col("event_id"),
        when(pmod(col("event_id"), lit(5)) === 0, 16384)
          .when(pmod(col("event_id"), lit(5)) === 1, -16384)
          .when(pmod(col("event_id"), lit(5)) === 2, 8192)
          .otherwise(0).as("amp"))
      samples.groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("event_id"), col("amp"))))
          .as("seq"))
        .select(col("user_id"), expr("transform(seq, x -> x.amp)").as("amps"))
        .as[(Long, Array[Int])]
        .map { case (uid, amps) =>
          val decoded =
            Multimodal.decodeWavPcm16Mono(Multimodal.encodeWavPcm16(amps))
          val (nSeg, nVoiced, maxRun) = Multimodal.segmentVoiced(decoded, 4096)
          (uid, decoded.length.toLong, nSeg, nVoiced, maxRun)
        }
        .toDF("user_id", "n_samples", "n_segments", "n_voiced", "max_run")
    },
      """WITH s AS (SELECT user_id, event_id,
        |    CASE event_id % 5 WHEN 0 THEN 16384 WHEN 1 THEN -16384
        |         WHEN 2 THEN 8192 ELSE 0 END AS amp
        |  FROM events),
        |f AS (SELECT user_id, event_id,
        |        CASE WHEN abs(amp) > 4096 THEN 1 ELSE 0 END AS v FROM s),
        |f2 AS (SELECT user_id, event_id, v,
        |         CASE WHEN v = 1 AND COALESCE(lag(v) OVER
        |               (PARTITION BY user_id ORDER BY event_id), 0) = 0
        |              THEN 1 ELSE 0 END AS seg_start
        |       FROM f),
        |g AS (SELECT user_id, event_id, v,
        |        SUM(seg_start)
        |          OVER (PARTITION BY user_id ORDER BY event_id
        |                ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM f2),
        |runs AS (SELECT user_id, sid, COUNT(*) AS run_len FROM g
        |         WHERE v = 1 GROUP BY user_id, sid),
        |agg AS (SELECT user_id, COUNT(*) AS n_samples,
        |          CAST(SUM(v) AS BIGINT) AS n_voiced FROM g GROUP BY user_id),
        |r AS (SELECT user_id, COUNT(*) AS n_segments, MAX(run_len) AS max_run
        |      FROM runs GROUP BY user_id)
        |SELECT a.user_id, a.n_samples,
        |  COALESCE(r.n_segments, 0) AS n_segments, a.n_voiced,
        |  CAST(COALESCE(r.max_run, 0) AS BIGINT) AS max_run
        |FROM agg a LEFT JOIN r USING (user_id)""".stripMargin),

    // M3 — multimodal image decode through the COMPRESSED container: the
    // same per-user pixel construction as M2 but encoded as a real PNG
    // (zlib IDAT, per-row rotating scanline filters) and decoded back
    // through the pure-JVM critical-chunk parser (Inflater + all five
    // filter reconstructions). Identical feature layout to BMP, so the
    // oracle differs from m2 only in width — container correctness is
    // isolated exactly.
    Query("m3_png_features", Throughput, (s, dir) => {
      import s.implicits._
      val pngW = 7 // odd width; last partial row padded with black
      val px = ev(s, dir).select(col("user_id"),
        (when(pmod(col("event_id"), lit(2)) === 0, 255).otherwise(0) +
         when(pmod(col("event_id"), lit(3)) === 0, 255 * 256).otherwise(0) +
         when(pmod(col("event_id"), lit(5)) === 0, 255 * 65536).otherwise(0))
          .as("rgb"))
      val payloads = px.groupBy(col("user_id"))
        .agg(collect_list(col("rgb")).as("pxs"))
        .as[(Long, Array[Int])]
        .map { case (uid, pxs) => (uid, Multimodal.encodePng(pxs, pngW)) }
        .toDF("id", "data")
      val media = Multimodal.asMediaFrame(payloads, "id", "data", "image", "png")
      // exact bright-pixel count features, as in m2
      Multimodal.decodeFeatures(media, new Multimodal.BuiltinDecoder)(s)
        .select(col("content_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 10).cast("long").as("n_blue"),
          element_at(col("features"), 11).cast("long").as("n_green"),
          element_at(col("features"), 12).cast("long").as("n_red"))
    },
      // The PNG payload round-trips through a real zlib encode + filtered
      // decode; same relational recomputation as m2, 7-wide image.
      """SELECT user_id AS content_id,
        |  CAST(7 AS BIGINT) AS width,
        |  CAST(CEIL(COUNT(*) / 7.0) AS BIGINT) AS height,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS n_blue,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 3 = 0) AS BIGINT) AS n_green,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 5 = 0) AS BIGINT) AS n_red
        |FROM events GROUP BY 1""".stripMargin),

    // M4 — multimodal image decode through the LOSSY container: per-user
    // grayscale built from event parity, each value an 8×8 UNIFORM block
    // (the shape a quality-100 baseline JPEG stores exactly: one integer DC,
    // mathematically zero ACs — nothing lost to coefficient rounding), then
    // encoded as a real baseline JPEG (std Annex K Huffman, byte stuffing)
    // and decoded back through the pure-JVM entropy + IDCT path. Features
    // read the decoder's exact bright-count slot; the oracle recomputes
    // dims/counts relationally (6-block-wide image ⇒ 48 px; each source
    // value is 64 px).
    Query("m4_jpeg_features", Throughput, (s, dir) => {
      import s.implicits._
      val wBlocks = 6
      val px = ev(s, dir).select(col("user_id"),
        when(pmod(col("event_id"), lit(2)) === 0, 255).otherwise(0).as("g"))
      // explicit AQE-exempt repartition FEEDING the agg (r13 opt, the
      // dhashRelations pattern — placed before the groupBy so the agg
      // reuses its partitioning and a post-agg repartition can't be
      // collapsed away): AQE otherwise coalesces the KB-sized collect_list
      // shuffle to ~4 partitions, serializing the DCT+Huffman encode AND
      // the downstream entropy decode on 4 of 32 cores. The byte-based
      // coalescer cannot see that each narrow row explodes into heavy CPU
      // work (guide §2.5). Features are per-block counts — order-
      // insensitive — so list arrival order is immaterial.
      val shufP = s.sessionState.conf.numShufflePartitions
      val payloads = px.repartition(shufP, col("user_id"))
        .groupBy(col("user_id"))
        .agg(collect_list(col("g")).as("gs"))
        .as[(Long, Array[Int])]
        .map { case (uid, gs) => (uid, graft.ops.Jpeg.encodeGrayBlocks(gs, wBlocks)) }
        .toDF("id", "data")
      val media = Multimodal.asMediaFrame(payloads, "id", "data", "image", "jpeg")
      Multimodal.decodeFeatures(media, new Multimodal.BuiltinDecoder)(s)
        .select(col("content_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 10).cast("long").as("n_bright"))
    },
      // The JPEG payload round-trips through a real baseline encode + Huffman
      // decode + IDCT; uniform 8×8 blocks make the lossy container exact, so
      // the oracle recomputes dims and bright counts relationally (6 blocks
      // wide ⇒ 48 px; one source value ⇒ 64 px; pad blocks black).
      """SELECT user_id AS content_id,
        |  CAST(48 AS BIGINT) AS width,
        |  CAST(8 * CEIL(COUNT(*) / 6.0) AS BIGINT) AS height,
        |  CAST(64 * COUNT(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS n_bright
        |FROM events GROUP BY 1""".stripMargin),

    // M4b — the 4:2:0 CHROMA-SUBSAMPLED color JPEG path (the sampling real
    // corpora overwhelmingly use) under an exact oracle. Each event renders
    // one uniform 16×16 MCU colored white/red/blue/black by event_id % 4:
    // black/white are bit-exact through the subsampled pipeline (integer
    // YCbCr, uniform blocks in both tiers after the chroma box average) and
    // red/blue decode with >100 margin to the 127 channel threshold, so the
    // decoder's nz channel counts are integer-exact and relational
    // (n_white = nzG; red contributes only to nzR, blue only to nzB).
    Query("m4b_jpeg420_features", Throughput, (s, dir) => {
      import s.implicits._
      val wMcus = 3
      val px = ev(s, dir).select(col("user_id"),
        when(pmod(col("event_id"), lit(4)) === 0, lit(0xffffff))
          .when(pmod(col("event_id"), lit(4)) === 1, lit(0xff0000))
          .when(pmod(col("event_id"), lit(4)) === 2, lit(0x0000ff))
          .otherwise(lit(0x000000)).as("c"))
      // AQE-exempt repartition before the encode map — same rationale as m4
      // (the coalesced shuffle serialized this query's encode+decode on 4
      // of 32 cores; measured 4.7 s with 4 tasks at sf0.1)
      val shufP = s.sessionState.conf.numShufflePartitions
      val payloads = px.repartition(shufP, col("user_id"))
        .groupBy(col("user_id"))
        .agg(collect_list(col("c")).as("cs"))
        .as[(Long, Array[Int])]
        .map { case (uid, cs) => (uid, graft.ops.Jpeg.encodeColorMcus(cs, wMcus)) }
        .toDF("id", "data")
      val media = Multimodal.asMediaFrame(payloads, "id", "data", "image", "jpeg")
      Multimodal.decodeFeatures(media, new Multimodal.BuiltinDecoder)(s)
        .select(col("content_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 11).cast("long").as("n_white_px"),
          (element_at(col("features"), 12) - element_at(col("features"), 11))
            .cast("long").as("n_red_px"),
          (element_at(col("features"), 10) - element_at(col("features"), 11))
            .cast("long").as("n_blue_px"))
    },
      // 4:2:0 color fixture: one 16×16 MCU (256 px) per event, 3 MCUs wide
      // ⇒ 48 px; white MCUs light all three channels, red only R, blue only
      // B, black/pad none — so the channel-count differences isolate each
      // color exactly.
      """SELECT user_id AS content_id,
        |  CAST(48 AS BIGINT) AS width,
        |  CAST(16 * CEIL(COUNT(*) / 3.0) AS BIGINT) AS height,
        |  CAST(256 * COUNT(*) FILTER (WHERE event_id % 4 = 0) AS BIGINT) AS n_white_px,
        |  CAST(256 * COUNT(*) FILTER (WHERE event_id % 4 = 1) AS BIGINT) AS n_red_px,
        |  CAST(256 * COUNT(*) FILTER (WHERE event_id % 4 = 2) AS BIGINT) AS n_blue_px
        |FROM events GROUP BY 1""".stripMargin),

    // M5 — multimodal VIDEO through a real container: per-user 4-frame
    // Motion-JPEG AVI (RIFF avih/strl/movi/idx1, each frame an independent
    // baseline JPEG keyframe), frame f holding that user's events with
    // event_id ≡ f (mod 4) as uniform 8×8 blocks (255 where event_id ≡ 0
    // mod 3 — a residue system NOT aligned with the frame split, so
    // per-frame bright mass varies). The decoder samples every 2nd frame
    // (0 and 2) — MJPEG keyframe independence means unsampled frames are
    // never entropy-decoded. Uniform blocks round-trip the lossy codec
    // exactly (m4), so every feature is an exact relational recompute:
    // empty frames carry one black placeholder block; pad blocks black.
    Query("m5_video_features", Throughput, (s, dir) => {
      import s.implicits._
      val wBlocks = 6; val nFrames = 4
      val px = ev(s, dir).select(col("user_id"), col("event_id"))
      // AQE-exempt repartition before the encode map — the m4/m4b rationale
      // (four JPEG frames per user encoded in the map; per-frame features
      // are residue-class counts, order-insensitive)
      val shufP = s.sessionState.conf.numShufflePartitions
      val payloads = px.repartition(shufP, col("user_id"))
        .groupBy(col("user_id"))
        .agg(collect_list(col("event_id")).as("ids"))
        .as[(Long, Array[Long])]
        .map { case (uid, ids) =>
          val frames = (0 until nFrames).map { f =>
            val vals = ids.filter(_ % nFrames == f)
              .map(id => if (id % 3 == 0) 255 else 0)
            graft.ops.Jpeg.encodeGrayBlocks(if (vals.isEmpty) Array(0) else vals, wBlocks)
          }
          val rows0 = (math.max(ids.count(_ % nFrames == 0), 1) + wBlocks - 1) / wBlocks
          (uid, graft.ops.Avi.encodeMjpeg(frames, wBlocks * 8, rows0 * 8, fps = 10))
        }
        .toDF("id", "data")
      val media = Multimodal.asMediaFrame(payloads, "id", "data", "video", "avi")
      Multimodal.decodeFeatures(media, new Multimodal.BuiltinDecoder)(s)
        .select(col("content_id"),
          element_at(col("features"), 1).cast("long").as("width"),
          element_at(col("features"), 2).cast("long").as("height"),
          element_at(col("features"), 3).cast("long").as("n_frames"),
          element_at(col("features"), 4).cast("long").as("n_sampled"),
          element_at(col("features"), 5).cast("long").as("n_px"),
          element_at(col("features"), 6).cast("long").as("n_bright"))
    },
      // The AVI container round-trips each frame's JPEG bytes losslessly and
      // the uniform-block frames make the JPEG layer exact, so every video
      // feature is relational: frame f holds the events with event_id ≡ f
      // (mod 4) (one 64-px block each, 255 iff event_id ≡ 0 mod 3), frames
      // 0 and 2 are sampled (stride 2), empty frames carry one black
      // placeholder block, pad blocks are black, header height = frame 0's.
      """SELECT user_id AS content_id,
        |  CAST(48 AS BIGINT) AS width,
        |  CAST(8 * CEIL(GREATEST(COUNT(*) FILTER (WHERE event_id % 4 = 0), 1) / 6.0) AS BIGINT) AS height,
        |  CAST(4 AS BIGINT) AS n_frames,
        |  CAST(2 AS BIGINT) AS n_sampled,
        |  CAST(384 * (CEIL(GREATEST(COUNT(*) FILTER (WHERE event_id % 4 = 0), 1) / 6.0)
        |            + CEIL(GREATEST(COUNT(*) FILTER (WHERE event_id % 4 = 2), 1) / 6.0)) AS BIGINT) AS n_px,
        |  CAST(64 * COUNT(*) FILTER (WHERE event_id % 4 IN (0, 2) AND event_id % 3 = 0) AS BIGINT) AS n_bright
        |FROM events GROUP BY 1""".stripMargin),

    // M10 — scene-change detection over the SAME per-user MJPEG AVI m5
    // builds, decoding EVERY frame (m5's clip summary samples stride 2;
    // shot boundaries need the full time series). The codec layer emits one
    // bright-pixel mass per frame ([[Multimodal.frameBrightness]]); the
    // TEMPORAL operator — diff consecutive frames, flag |Δ| ≥ 128 px (two
    // 8×8 blocks) as a cut — is declarative: posexplode → lag window →
    // conditional count, all on the user_id partitioning the build groupBy
    // already established, so frame rows never re-shuffle. At 100 TB the
    // decode is embarrassingly parallel per clip and only (clip, frame,
    // mass) triples — not pixels — reach the window operator.
    Query("m10_scene_cuts", Throughput, (s, dir) => {
      import s.implicits._
      val wBlocks = 6; val nFrames = 4
      val px = ev(s, dir).select(col("user_id"), col("event_id"))
      // AQE-exempt repartition feeding the agg — the m4/m4b/m5 fix (the
      // per-user AVI encode+brightness decode otherwise runs on ~4 tasks)
      val shufP = s.sessionState.conf.numShufflePartitions
      val brights = px.repartition(shufP, col("user_id"))
        .groupBy(col("user_id"))
        .agg(collect_list(col("event_id")).as("ids"))
        .as[(Long, Array[Long])]
        .map { case (uid, ids) =>
          val frames = (0 until nFrames).map { f =>
            val vals = ids.filter(_ % nFrames == f)
              .map(id => if (id % 3 == 0) 255 else 0)
            graft.ops.Jpeg.encodeGrayBlocks(if (vals.isEmpty) Array(0) else vals, wBlocks)
          }
          val rows0 = (math.max(ids.count(_ % nFrames == 0), 1) + wBlocks - 1) / wBlocks
          val avi = graft.ops.Avi.encodeMjpeg(frames, wBlocks * 8, rows0 * 8, fps = 10)
          (uid, Multimodal.frameBrightness(avi))
        }
        .toDF("user_id", "brights")
      val perFrame = brights.select(col("user_id"),
        posexplode(col("brights")).as(Seq("frame_idx", "bright")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("frame_idx"))
      perFrame
        .withColumn("delta", col("bright") - lag(col("bright"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(abs(col("delta")) >= 128, 1L).otherwise(0L)).as("n_cuts"),
          max(abs(col("delta"))).as("max_abs_delta"))
    },
      // Frame f's bright mass is exactly 64·|{id : id≡f (mod 4), id≡0 (mod
      // 3)}| (uniform blocks round-trip the codec losslessly), so the scene
      // cuts recompute relationally: four frame rows per user, lag, |Δ|≥128.
      """WITH pf AS (
        |  SELECT e.user_id, f.frame_idx,
        |    64 * COUNT(*) FILTER (WHERE e.event_id % 4 = f.frame_idx
        |                            AND e.event_id % 3 = 0) AS bright
        |  FROM events e CROSS JOIN (VALUES (0), (1), (2), (3)) AS f(frame_idx)
        |  GROUP BY 1, 2
        |), d AS (
        |  SELECT user_id,
        |    bright - lag(bright) OVER (PARTITION BY user_id ORDER BY frame_idx)
        |      AS delta
        |  FROM pf
        |)
        |SELECT user_id, COUNT(*) AS n_frames,
        |  CAST(COUNT(*) FILTER (WHERE abs(delta) >= 128) AS BIGINT) AS n_cuts,
        |  CAST(MAX(abs(delta)) AS BIGINT) AS max_abs_delta
        |FROM d GROUP BY 1""".stripMargin)
  )
}
