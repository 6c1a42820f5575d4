package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables.t
import graft.operators.GraftCaches.persist
import graft.multimodal.{Media, MediaRow}

/** Multimodal-column operators: binary payloads with typed metadata.
  * The testdata has no real media files, so document text bytes stand in
  * as the opaque binary column — the operator shapes (binary schema,
  * digest/length features, partition-batched decode) are what matter.
  */
object MultimodalQueries {

  /** Cheap binary-column features computable without a decoder: byte
    * length, content digest, first byte. Runs entirely in codegen'd
    * built-ins; the parquet scan prunes to the one needed column. */
  def mmBinaryFeatures(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("doc_id") < 2000)
      .withColumn("bin", col("text").cast("binary"))
      .select(
        col("doc_id"),
        octet_length(col("bin")).as("n_bytes"),
        sha2(col("bin"), 256).as("sha"),
        ascii(substring(col("text"), 1, 1)).as("first_byte"))
      .orderBy("doc_id")

  /** Partition-batched decode over the binary column via a typed
    * Dataset + mapPartitions (the Scala analogue of mapInPandas): the
    * decoder is a deterministic stub (no codec libs in this container,
    * see Media.decodeStub), the plumbing — Encoders, batch shape,
    * downstream agg — is real. Oracle-checked: the stub is md5-slice
    * arithmetic the DuckDB mirror recomputes. */
  def mmDecodeStub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = t(s, dir, "documents")
      .filter(col("doc_id") < 2000)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        col("text").cast("binary").as("bytes"))
      .as[MediaRow]
    val metas = rows.mapPartitions(_.map(Media.decodeStub))
    metas.groupBy("kind")
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_bytes").cast("long")).as("total_bytes"),
        max(col("width")).cast("long").as("max_width"),
        max(col("n_frames")).cast("long").as("max_frames"),
        countDistinct(col("sample_rate")).as("n_rates"))
      .orderBy("kind")
  }

  /** Interleaved multimodal token budgeting — the sequence-length
    * arithmetic of a vision-language training pipeline: each document
    * costs its TEXT tokens plus its media's patch tokens (images:
    * ceil(w/16)·ceil(h/16) ViT-style patches; video: patches × sampled
    * frames; audio: ~frames of 25 ms). One decode pass (mapPartitions
    * stub) joined back to the text token counts on doc_id, rolled up per
    * kind. At scale the decode and the text pass share the scan (carry
    * the text length through the typed row); the join shape here keeps
    * the stub pluggable. Oracle-checked (stub is md5 arithmetic). */
  def mmTokenBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents").filter(col("doc_id") < 2000)
    val txt = d.select(col("doc_id").as("t_doc"),
      size(split(col("text"), " ")).cast("long").as("n_text_tokens"))
    val metas = d.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        col("text").cast("binary").as("bytes"))
      .as[MediaRow]
      .mapPartitions(_.map(Media.decodeStub))
      .toDF()
    val patches =
      when(col("kind") === "image",
        ceil(col("width") / 16.0) * ceil(col("height") / 16.0))
      .when(col("kind") === "video",
        ceil(col("width") / 16.0) * ceil(col("height") / 16.0) *
          ceil(col("n_frames") / 16.0)) // every-16th-frame sampling
      .otherwise(lit(40 * 30)) // audio: 30 s at 25 ms frames
      .cast("long")
    metas.withColumn("media_tokens", patches)
      .join(txt, col("doc_id") === col("t_doc"))
      .withColumn("budget", col("n_text_tokens") + col("media_tokens"))
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_text_tokens")).as("text_tokens"),
        sum(col("media_tokens")).as("media_tokens"),
        max(col("budget")).as("max_budget"))
      .orderBy("kind")
  }

  /** Frame sampling as a typed fan-out: decode → flatMap to one row per
    * sampled frame index (every 16th) — the every-k-th-frame extraction
    * shape of a video training pipeline, where the fan-out happens
    * inside the executors and never materializes unsampled frames.
    * Aggregated back per video for bounded deterministic output. */
  def mmFrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = t(s, dir, "documents")
      .filter(col("doc_id") < 600 && col("doc_id") % 3 === 2) // the "video" slice
      .select(col("doc_id"), lit("video").as("kind"),
        col("text").cast("binary").as("bytes"))
      .as[MediaRow]
    val frames = rows
      .mapPartitions(_.map(Media.decodeStub))
      .flatMap(m => Media.sampleFrames(m, 16).map(f => (m.doc_id, f)))
      .toDF("doc_id", "frame_idx")
    frames.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_sampled"),
        min("frame_idx").cast("long").as("first_frame"),
        max("frame_idx").cast("long").as("last_frame"))
      .orderBy("doc_id")
  }

  /** Container-format detection by MAGIC BYTES over the binary column —
    * the first step of any multimodal ingest (route each blob to the
    * right decoder without trusting extensions/metadata). Payloads get
    * a deterministic key-derived magic prefix (no real media in this
    * container); detection itself is genuine byte-level work: a tiny
    * magic table broadcast, equi-join on the blob's first 4 bytes,
    * unmatched blobs fall back to octet-stream via left join. Pure
    * map-side work at any scale — the scan reads 4 bytes of each blob
    * for the join key. */
  def mmMimeDetect(s: SparkSession, dir: String): DataFrame = {
    val magics = Seq(
      ("89504E47", "image/png"), ("FFD8FFE0", "image/jpeg"),
      ("47494638", "image/gif"), ("25504446", "application/pdf"),
      ("52494646", "audio/wav"), ("504B0304", "application/zip"))
    import s.implicits._
    val mtab = magics.toDF("hex", "mime")
      .select(unhex(col("hex")).as("prefix4"), col("mime"))
    // every 7th blob gets an unknown prefix — exercises the
    // octet-stream fallback branch of the left join
    val hexes = array((magics.map(m => lit(m._1)) :+ lit("00000000")): _*)
    val blobs = t(s, dir, "documents")
      .filter(col("doc_id") < 2000)
      .select(col("doc_id"),
        concat(
          unhex(element_at(hexes, (pmod(col("doc_id"), lit(7L)) + 1).cast("int"))),
          col("text").cast("binary")).as("payload"))
    blobs
      .select(col("doc_id"), substring(col("payload"), 1, 4).as("prefix4"),
        octet_length(col("payload")).as("n_bytes"))
      .join(broadcast(mtab), Seq("prefix4"), "left")
      .select(col("doc_id"),
        coalesce(col("mime"), lit("application/octet-stream")).as("mime"),
        col("n_bytes"))
      .groupBy("mime")
      .agg(count(lit(1)).as("n_blobs"), sum("doc_id").as("sum_ids"),
        sum("n_bytes").as("sum_bytes"))
      .orderBy("mime")
  }

  /** Resize planning — the missing-from-the-family preprocessing
    * arithmetic of a vision pipeline (decode → RESIZE → patchify):
    * every image fit inside a 224×224 ViT canvas preserving aspect
    * (downscale only), letterbox padding to square, and the post-resize
    * 16-px patch count. ALL integer arithmetic — floor-divided scale,
    * ceil-divided patches — so the plan (the thing schedulers budget
    * by) is bit-identical in both engines; the pixel work itself is
    * the stubbed decode step. One mapPartitions decode pass (codec
    * state amortized per batch) + codegen'd arithmetic; map-only, no
    * shuffle before the ordered output. */
  def mmResizePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = t(s, dir, "documents")
      .filter(col("doc_id") < 2000 && col("doc_id") % 3 === 0)
      .select(col("doc_id"), lit("image").as("kind"),
        col("text").cast("binary").as("bytes"))
      .as[MediaRow]
    val T = 224L
    val P = 16L
    val metas = rows.mapPartitions(_.map(Media.decodeStub)).toDF()
    val m = greatest(col("width"), col("height")).cast("long")
    val ow = when(m <= T, col("width").cast("long"))
      .otherwise(call_function("div", col("width").cast("long") * T, m))
    val oh = when(m <= T, col("height").cast("long"))
      .otherwise(call_function("div", col("height").cast("long") * T, m))
    metas.select(col("doc_id"),
        col("width").cast("long").as("w"), col("height").cast("long").as("h"),
        ow.as("out_w"), oh.as("out_h"))
      .select(col("doc_id"), col("w"), col("h"), col("out_w"), col("out_h"),
        (lit(T) - col("out_w")).as("pad_x"), (lit(T) - col("out_h")).as("pad_y"),
        (call_function("div", col("out_w") + (P - 1), lit(P)) *
          call_function("div", col("out_h") + (P - 1), lit(P))).as("n_patches"))
      .orderBy("doc_id")
  }

  /** Perceptual-hash near-dup over the opaque binary payload
    * (mm_phash_dedup) — aHash semantics on the media stand-in: the
    * payload splits into 8 equal regions and each contributes its
    * QUANTIZED INTENSITY (sum of character codes div 128, mod 256 —
    * the analog of a cell's mean brightness; a real image aHash drops
    * in by swapping the code sum for pixel luminance, pipeline
    * unchanged). Quantized intensity is what makes this PERCEPTUAL:
    * scattered small edits move a region's sum by less than one
    * quantum and the block byte survives, where an exact block hash
    * (md5) flips on any single changed character — measured on this
    * corpus, exact block hashing finds ZERO pairs under the threshold
    * while the intensity form finds the near-dup families. Near-dup =
    * at most 2 of 8 blocks differ. Candidate generation is the
    * simhash-family banded equi-join — 4 bands of 2 bytes — and for
    * THIS threshold the bands are EXACT, not approximate: 2 differing
    * blocks touch at most 2 bands, so at least 2 of 4 bands stay
    * intact (pigeonhole) and every qualifying pair collides somewhere.
    * That is why the DuckDB mirror can brute-force all pairs and the
    * hash gate still holds bit-for-bit.
    *
    * Scale: signature pass is one map-only scan (~0.1% output); the
    * band join is hot-bucket-capped (HotKeys) like every dedup-family
    * join; the block-diff cut runs BEFORE distinct so the dedup
    * shuffle carries only the near-dup set. */
  def mmPhashDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .filter(col("doc_id") < 2000)
      .select(col("doc_id"), col("text"))
      .withColumn("len", length(col("text")))
      .filter(col("len") >= 8)
    // block i covers chars [1 + i·len div 8, (i+1)·len div 8] — nonempty
    // for len ≥ 8; ascii() is the codepoint in both engines (ord in
    // DuckDB), and the div/mod quantization is exact integer arithmetic
    def blockByte(i: Int): org.apache.spark.sql.Column =
      pmod(call_function("div",
        expr(s"aggregate(split(substr(text, 1 + (len * $i) div 8, " +
          s"(len * ${i + 1}) div 8 - (len * $i) div 8), ''), 0L, (a, c) -> a + ascii(c))"),
        lit(128L)), lit(256L))
    // shift+OR packing (disjoint bit ranges — never a carry, and no
    // ANSI overflow risk the multiply-and-add form would hit on b7)
    val sig = (0 until 8).map(i => shiftleft(blockByte(i), 8 * i)).reduce(_ bitwiseOR _)
    val sigs = persist(graft.tables.Tables.spread(s, docs)
      .select(col("doc_id"), sig.as("sig")))
    val bandStructs = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bkey"))
    }: _*)
    val bands = graft.operators.HotKeys.dropOverCap(
      sigs.select(col("doc_id"), col("sig"), explode(bandStructs).as("bs"))
        .select(col("doc_id"), col("sig"), col("bs.band").as("band"), col("bs.bkey").as("bkey")),
      Seq("band", "bkey"), graft.operators.HotKeys.DefaultCap)
    val a = bands.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("band"), col("bkey"))
    val b = bands.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("band"), col("bkey"))
    val xor = col("sig_a").bitwiseXOR(col("sig_b"))
    val nDiff = (0 until 8).map(i =>
      when(shiftrightunsigned(xor, 8 * i).bitwiseAND(lit(0xFFL)) =!= 0L, 1L).otherwise(0L))
      .reduce(_ + _)
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), nDiff.as("n_diff_blocks"))
      .filter(col("n_diff_blocks") <= 2)
      .distinct()
      .orderBy("n_diff_blocks", "doc_a", "doc_b")
      .limit(100)
  }

  /** Size-budgeted shard packing for multimodal payloads — the layout
    * job that turns a blob corpus into fixed-size training shards
    * (tar/tfrecord-style): within each source, payloads pack in doc_id
    * order into 64 KiB shards by the CONCAT-THEN-CUT rule — shard_id =
    * (exclusive running bytes) div budget, so an item never splits and
    * a shard overflows by at most one payload (the webdataset
    * convention; declared semantics, matched exactly by the oracle's
    * identical window). Output is the shard manifest: per (source,
    * shard) the item count, byte total, and id range — what a loader
    * needs to seek without opening blobs.
    *
    * Scale: payload bytes come from octet_length only (the scan prunes
    * to id/source/text; no blob ever shuffles); ONE keyed window per
    * source (per-partition sort, never global) and a map-combined
    * rollup — the `llm_shard_manifest` locality posture with a byte
    * budget instead of a row count. */
  def mmShardPack(s: SparkSession, dir: String): DataFrame = {
    val budget = 65536L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    t(s, dir, "documents")
      .filter(col("doc_id") < 2000)
      .select(col("doc_id"), col("source"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .withColumn("shard_id", call_function("div",
        coalesce(sum("n_bytes").over(w), lit(0L)), lit(budget)))
      .groupBy("source", "shard_id")
      .agg(count(lit(1)).as("n_items"), sum("n_bytes").as("shard_bytes"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("source", "shard_id")
  }

  /** ASPECT-RATIO BUCKETING — the batching step of a vision-training
    * pipeline (SDXL-style): images group into a fixed ladder of target
    * canvases (square, 4:3 both ways, 5:3 both ways) so a batch shares
    * one shape and padding waste stays bounded; the readout is the
    * per-bucket census a data loader schedules from (image count,
    * total/average letterbox padding, batch count at 32). Assignment
    * is the ratio-nearest bucket under an EXACT integer criterion —
    * minimize |⌊w·bh·10⁶ / (h·bw)⌋ − 10⁶|, ties to the lower bucket
    * id — and the fit is the downscale-only resize of `mm_resize_plan`
    * generalized to a rectangle: the binding dimension (w·bh ≥ h·bw ⇒
    * width) caps at the canvas edge and the other scales by the same
    * integer ratio, so pad = bw·bh − ow·oh is exact BIGINT in both
    * engines. One mapPartitions decode pass (stubbed codec), a
    * broadcast 5-row bucket table, and one map-combined rollup — no
    * shuffle wider than the 5-bucket census at any corpus size. */
  def mmAspectBucket(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = t(s, dir, "documents")
      .filter(col("doc_id") < 2000 && col("doc_id") % 3 === 0)
      .select(col("doc_id"), lit("image").as("kind"),
        col("text").cast("binary").as("bytes"))
      .as[MediaRow]
    val metas = rows.mapPartitions(_.map(Media.decodeStub)).toDF()
      .select(col("doc_id"), col("width").cast("long").as("w"),
        col("height").cast("long").as("h"))
    val buckets = Seq((0L, 512L, 512L), (1L, 576L, 448L), (2L, 448L, 576L),
        (3L, 640L, 384L), (4L, 384L, 640L))
      .toDF("bi", "bw", "bh")
    val dist = abs(call_function("div",
      col("w") * col("bh") * lit(1000000L), col("h") * col("bw")) - lit(1000000L))
    val assigned = metas.crossJoin(broadcast(buckets))
      .select(col("doc_id"), col("w"), col("h"),
        col("bi"), col("bw"), col("bh"), dist.as("dist"))
      .groupBy("doc_id", "w", "h")
      .agg(min(struct(col("dist"), col("bi"), col("bw"), col("bh"))).as("m"))
      .select(col("doc_id"), col("w"), col("h"),
        col("m.bi").as("bi"), col("m.bw").as("bw"), col("m.bh").as("bh"))
    val widthBinding = col("w") * col("bh") >= col("h") * col("bw")
    val ow = when(widthBinding, least(col("w"), col("bw")))
      .otherwise(call_function("div", col("w") * least(col("h"), col("bh")), col("h")))
    val oh = when(widthBinding,
        call_function("div", col("h") * least(col("w"), col("bw")), col("w")))
      .otherwise(least(col("h"), col("bh")))
    assigned.select(col("bi"), col("bw"), col("bh"), ow.as("ow"), oh.as("oh"))
      .groupBy("bi", "bw", "bh")
      .agg(count(lit(1)).as("n_images"),
        sum(col("bw") * col("bh") - col("ow") * col("oh")).as("total_pad_px"))
      .select(col("bi").as("bucket_id"), col("bw").as("bucket_w"),
        col("bh").as("bucket_h"), col("n_images"), col("total_pad_px"),
        call_function("div", col("total_pad_px"), col("n_images")).as("avg_pad_px"),
        call_function("div", col("n_images") + 31, lit(32L)).as("n_batches"))
      .orderBy("bucket_id")
  }

  /** SCENE-CUT DETECTION over the video slice — the shot-segmentation
    * step a video training pipeline runs before clip sampling (sample
    * within shots, never across a cut): frames sample at 1 Hz (every
    * 25th index, the `mm_frame_sample` fan-out shape), each sampled
    * frame gets a stubbed INTENSITY (md5-derived, the `Media` decode
    * convention — a real decoder swaps in mean luminance, pipeline
    * unchanged), and a cut fires when consecutive intensities jump by
    * more than 96/255. Per video: sampled-frame count, cut count, and
    * the longest shot in sampled frames — the top 25 choppiest videos.
    * All integer (hex-slice % 256, lag diff, running cut-count as
    * scene id), so the cut set and scene lengths are bit-identical in
    * the DuckDB mirror. Scale: decode + intensity are one map pass;
    * the lag/scene windows partition BY VIDEO (bounded frames per
    * video), never globally. */
  def mmVideoSceneCut(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rows = t(s, dir, "documents")
      .filter(col("doc_id") < 600 && col("doc_id") % 3 === 2)
      .select(col("doc_id"), lit("video").as("kind"),
        col("text").cast("binary").as("bytes"))
      .as[MediaRow]
    val frames = rows.mapPartitions(_.map(Media.decodeStub))
      .flatMap(m => Media.sampleFrames(m, 25).map(f => (m.doc_id, f.toLong)))
      .toDF("doc_id", "frame_idx")
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    val cuts = frames
      .withColumn("inten",
        conv(substring(md5(concat_ws(":", col("doc_id"), col("frame_idx"), lit("scene"))),
          1, 8), 16, 10).cast("long") % 256)
      .withColumn("prev", lag("inten", 1).over(w))
      .withColumn("is_cut",
        when(col("prev").isNotNull && abs(col("inten") - col("prev")) > 96, 1L)
          .otherwise(0L))
      .withColumn("scene_id", sum("is_cut")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perDoc = cuts.groupBy("doc_id")
      .agg(count(lit(1)).as("n_sampled"), sum("is_cut").as("n_cuts"))
    val maxScene = cuts.groupBy("doc_id", "scene_id")
      .agg(count(lit(1)).as("slen"))
      .groupBy("doc_id").agg(max("slen").as("max_scene_len"))
    perDoc.join(maxScene, "doc_id")
      .orderBy(desc("n_cuts"), col("doc_id"))
      .limit(25)
  }

  /** AUDIO VAD PLAN — voice-activity segmentation as the Spark-side
    * plumbing contract (the `mm_decode_stub` convention: the real codec
    * is environment-gated, the deterministic fake stands in — here the
    * document text plays the PCM buffer, ascii codepoints the samples):
    * frame the signal into fixed 32-sample windows, per-frame ENERGY =
    * Σ(code − 32)² (space-silence maps to zero), threshold into
    * speech/non-speech, then gaps-and-islands over the speech frames
    * yields the segment plan a real VAD hands the transcription stage —
    * per doc: frame count, speech count, segment count, longest
    * segment, total energy. All BIGINT; the oracle replays the same
    * frames with DuckDB's `ord`.
    *
    * Scale: frames explode map-side from offsets (no shuffle until the
    * per-doc rollup); the per-doc window runs over that doc's frames
    * only — the batch shape a `mapInPandas` decoder would feed
    * unchanged. */
  def mmAudioVadPlan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frameLen = 32
    val thresh = 150000L
    val d = t(s, dir, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
      .withColumn("len", length(col("text")))
      .filter(col("len") >= frameLen)
      .withColumn("nf", call_function("div", col("len"), lit(frameLen.toLong)))
    val frames = d
      .select(col("doc_id"), col("nf"),
        explode(sequence(lit(0L), col("nf") - 1)).as("i"), col("text"))
      .withColumn("energy", expr(
        s"aggregate(split(substr(text, CAST(i * $frameLen + 1 AS INT), $frameLen), ''), " +
          "0L, (a, c) -> a + (ascii(c) - 32) * (ascii(c) - 32))"))
      .select(col("doc_id"), col("nf"), col("i"),
        col("energy"), (col("energy") > thresh).as("speech"))
    val wDoc = Window.partitionBy("doc_id").orderBy("i")
    val segs = frames.filter(col("speech"))
      .withColumn("isl", col("i") - row_number().over(wDoc))
      .groupBy("doc_id", "isl").agg(count(lit(1)).as("seg_len"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"), max("seg_len").as("longest_segment"))
    frames.groupBy("doc_id")
      .agg(max("nf").as("n_frames"), count_if(col("speech")).as("n_speech"),
        sum("energy").as("total_energy"))
      .join(segs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"), col("n_speech"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("longest_segment"), lit(0L)).as("longest_segment"),
        col("total_energy"))
      .orderBy("doc_id")
  }

  /** MULTI-CROP TILE PLAN — the high-resolution VLM preprocessing
    * arithmetic (the "tiles + overview thumbnail" recipe of
    * LLaVA-NeXT / InternVL-style dynamic tiling): each image splits
    * into a grid of 112-px tiles; if the native grid exceeds the
    * 12-tile budget the plan downsamples by the SMALLEST integer
    * factor s ∈ {1..4} that fits, and the token bill is 49 per tile
    * (7×7 patches of 16 px) plus a 49-token global overview. Images
    * that still exceed the budget at s = 4 are flagged truncated and
    * clamped. All integer ceil-division arithmetic — the plan a batch
    * scheduler sums into sequence budgets is bit-identical in both
    * engines; the pixel work itself is the stubbed decode.
    *
    * Scale: one mapPartitions decode pass (codec state amortized per
    * batch, as every mm_* row) + codegen'd arithmetic; map-only. */
  def mmImageTilePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = t(s, dir, "documents")
      .filter(col("doc_id") < 2000 && col("doc_id") % 3 === 1)
      .select(col("doc_id"), lit("image").as("kind"),
        col("text").cast("binary").as("bytes"))
      .as[MediaRow]
    val metas = rows.mapPartitions(_.map(Media.decodeStub)).toDF()
    val T = 112L
    val B = 12L
    def grid(sc: Long, c: org.apache.spark.sql.Column) =
      call_function("div", c.cast("long") + (T * sc - 1), lit(T * sc))
    def tiles(sc: Long) =
      (grid(sc, col("width")) * grid(sc, col("height"))).as(s"t$sc")
    metas
      .select(col("doc_id"), col("width").cast("long").as("w"),
        col("height").cast("long").as("h"),
        tiles(1), tiles(2), tiles(3), tiles(4))
      .withColumn("scale_s",
        when(col("t1") <= B, 1L).when(col("t2") <= B, 2L)
          .when(col("t3") <= B, 3L).otherwise(4L))
      .withColumn("grid_x",
        call_function("div", col("w") + (lit(T) * col("scale_s") - 1),
          lit(T) * col("scale_s")))
      .withColumn("grid_y",
        call_function("div", col("h") + (lit(T) * col("scale_s") - 1),
          lit(T) * col("scale_s")))
      .withColumn("truncated", col("t4") > B)
      .withColumn("n_tiles",
        least(col("grid_x") * col("grid_y"), lit(B)))
      .select(col("doc_id"), col("w"), col("h"), col("scale_s"),
        col("grid_x"), col("grid_y"), col("n_tiles"),
        (col("n_tiles") * 49L + 49L).as("n_tokens"), col("truncated"))
      .orderBy("doc_id")
  }
}
