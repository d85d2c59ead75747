package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Perceptual image near-duplicate detection — the image analog of the
  * text dedup family (dd02/dd04): web-scale image corpora are full of
  * re-encodes, brightness-shifted copies, and thumbnail re-uploads that
  * byte-level dedup (distinct on content) cannot see. The standard
  * first-pass signal is a difference hash (dHash): downscale to a tiny
  * luma grid and keep only the sign of each horizontal neighbor
  * difference — 64 bits per image, invariant under global brightness /
  * contrast shifts and any resize that preserves the gradient
  * structure. Near-duplicates are then pairs within a small Hamming
  * distance, found at scale by band blocking (the dd04 SimHash
  * discipline): split the 64 bits into `nBands` bands; any pair with
  * Hamming distance < nBands collides on at least one full band
  * (pigeonhole), so an equi-join on (band, band value) has guaranteed
  * recall and never goes all-pairs.
  *
  * Determinism contract (what makes the mm03 VALUES oracle possible):
  * decode is the JDK's own lossless PNG path, luma is integer Rec.601
  * milli-weights (299 R + 587 G + 114 B), grid cells are the integer
  * partition `cell = (coord * grid) / extent`, and the neighbor
  * comparison is the exact cross-multiplied integer `sumL * nR <
  * sumR * nL` — no floating point anywhere, so the hash of a given
  * payload is bit-identical on every JVM.
  */
object ImageHash {

  /** dHash grid: 9 luma columns x 8 rows -> 8 comparisons per row = 64
    * bits. Bit `r * 8 + c` is set iff cell (r, c) is strictly darker
    * than its right neighbor (r, c+1). */
  val GridW = 9
  val GridH = 8

  case class HashedImage(media_id: Long, dhash: Long)

  /** 64-bit difference hash of an encoded image (any format the JDK
    * decodes — PNG/JPEG/GIF/BMP). Undecodable bytes and images smaller
    * than the 9x8 grid throw IllegalArgumentException — route through
    * the failure path (DLQ, A5) like [[Multimodal.Decoders.imageio]].
    * Images over 16384 px on a side also throw (the exact integer
    * average compare is overflow-safe only below that; downscale such
    * inputs first — at 268 MP they are not candidate training images
    * as-is anyway).
    */
  def dHash64(bytes: Array[Byte]): Long = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) throw new IllegalArgumentException(
      s"no installed image reader decodes this ${bytes.length}-byte payload")
    dHashImage(img)
  }

  /** [[dHash64]] on an already-decoded image — the shared arithmetic
    * for single images and video frames ([[hashFrames]]). */
  def dHashImage(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    if (w < GridW || h < GridH) throw new IllegalArgumentException(
      s"image ${w}x$h is smaller than the ${GridW}x$GridH dHash grid")
    if (w > 16384 || h > 16384) throw new IllegalArgumentException(
      s"image ${w}x$h exceeds 16384 px; downscale before hashing " +
        "(exact integer compare would overflow)")
    // integer milli-luma sums per grid cell; cell of a pixel is the
    // integer partition (coord * grid) / extent — consecutive groups of
    // near-equal width, every cell non-empty given w>=9, h>=8
    val sums = Array.ofDim[Long](GridH, GridW)
    val counts = Array.ofDim[Long](GridH, GridW)
    val row = new Array[Int](w) // row-bulk fetch, as in Multimodal.meanLuma
    var y = 0
    while (y < h) {
      val gr = y * GridH / h
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val gc = x * GridW / w
        val rgb = row(x)
        val lum = 299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
          114 * (rgb & 0xFF)
        sums(gr)(gc) += lum
        counts(gr)(gc) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var r = 0
    while (r < GridH) {
      var c = 0
      while (c < GridW - 1) {
        // avgL < avgR exactly, without division: sumL/nL < sumR/nR
        // <=> sumL * nR < sumR * nL (all non-negative)
        if (sums(r)(c) * counts(r)(c + 1) < sums(r)(c + 1) * counts(r)(c))
          hash |= 1L << (r * (GridW - 1) + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** Hash a media Dataset. Per-row decode: [[dHash64]] carries no
    * reusable decoder context (ImageIO builds its reader per call), so
    * there is nothing to batch — a streaming map over the partition
    * iterator is the whole lifecycle (r17 verdict: the previous
    * `grouped(64)` regroup was a no-op and claimed otherwise). */
  def hashImages(items: Dataset[Multimodal.MediaItem]): Dataset[HashedImage] = {
    implicit val enc = Encoders.product[HashedImage]
    items.mapPartitions { it =>
      it.map(m => HashedImage(m.media_id, dHash64(m.data)))
    }
  }

  /** One dHash per frame of a multi-frame container (animated GIF via
    * the shared [[Multimodal.Decoders]] frame reader, same
    * composition-safety contract as mm02's feature decode) — flatMap
    * 1→N, rows scale with frames. The basis of video near-dup
    * detection ([[videoNearDupPairs]]). */
  def hashFrames(videos: Dataset[Multimodal.MediaItem]): Dataset[FrameHash] = {
    implicit val enc = Encoders.product[FrameHash]
    videos.mapPartitions { it =>
      // per-row decode, as in hashImages: the GIF frame reader is
      // per-payload, so a batch regroup would add nothing
      it.flatMap { m =>
        Multimodal.Decoders.gifFrameImages(m.data).zipWithIndex.map {
          case (img, i) => FrameHash(m.media_id, i, dHashImage(img))
        }
      }
    }
  }

  case class FrameHash(media_id: Long, frame_idx: Int, dhash: Long)

  /** Near-duplicate pairs by banded Hamming join over dHashes.
    *
    * Input must carry columns `(id, dhash)`; output is
    * `(id_a, id_b, hamming)` with `id_a < id_b` and
    * `hamming <= maxHamming`, ordered.
    *
    * `maxHamming < nBands` is REQUIRED, and is what makes the blocking
    * exact rather than approximate: a pair differing in fewer bits than
    * there are bands leaves at least one band untouched, so the
    * (band, value) equi-join finds every qualifying pair — recall 1 by
    * pigeonhole, not by tuning. Candidates sharing several bands are
    * deduplicated before the popcount verify.
    *
    * `maxBandBucket` is the loud width cap on a single (band, value)
    * bucket — the blocked self-join's quadratic axis (the
    * Baskets/FuzzyJoin/nearDupPairs discipline). Monochrome crawl
    * sludge is the realistic offender: a flat image hashes to all-zero
    * bands, and a few million of them make one bucket own C(N, 2) of
    * the join. The guard is a map-side-combined width aggregate +
    * broadcast raise (band keys are low-cardinality, so a count window
    * would sort the whole corpus — the r17 FuzzyJoin lesson), firing
    * before any pair row materializes. Flat-image floods should be
    * dropped upstream by a quality gate (they are not training data),
    * not admitted via a bigger cap.
    */
  def nearDupPairs(hashes: DataFrame, maxHamming: Int, nBands: Int = 4,
                   maxBandBucket: Int = 1000000): DataFrame = {
    requireRecall(maxHamming, nBands)
    // the guarded band frame feeds BOTH self-join sides: working-set
    // materialization keeps the decode -> hash -> band -> guard prefix
    // at ONE evaluation (the r17 fuzzy-join prefix lesson — without
    // it every upstream image decodes twice)
    graft.operators.TextDedup.withWorkingSet(
      bandGuarded(bandRows(hashes, nBands), maxBandBucket, "nearDupPairs")) { g =>
      val a = g.select(col("id").as("id_a"), col("dhash").as("ha"),
        col("band"), col("bv"))
      val b = g.select(col("id").as("id_b"), col("dhash").as("hb"),
        col("band"), col("bv"))
      verified(a.join(b, Seq("band", "bv")).filter(col("id_a") < col("id_b")),
        maxHamming)
    }
  }

  private def requireRecall(maxHamming: Int, nBands: Int): Unit = {
    require(nBands >= 2 && 64 % nBands == 0,
      s"nBands must divide 64 and be >= 2, got $nBands")
    require(maxHamming >= 0 && maxHamming < nBands,
      s"maxHamming must be in [0, nBands) for guaranteed recall, " +
        s"got maxHamming=$maxHamming nBands=$nBands")
  }

  /** (id, dhash) -> one row per (band, bv) — the blocking projection
    * shared by the inline join, the index writer, the incremental
    * query, and the streaming replay (ONE definition of the banding
    * geometry, the TextDedup.bandRows discipline). Pure projection —
    * zero shuffles — so it runs unchanged on a stream. */
  def bandRows(hashes: DataFrame, nBands: Int): DataFrame = {
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val bands = (0 until nBands).map(p =>
      shiftrightunsigned(col("dhash"), p * width).bitwiseAND(lit(mask)))
    // col("*") carries any extra blocking columns (frame_idx for the
    // video form) through the explode unchanged
    hashes.select(col("*"), posexplode(array(bands: _*)).as(Seq("band", "bv")))
  }

  /** The per-POSITION form of [[bandGuarded]] — ONE definition of the
    * flat-frame flood cap shared by the aligned matcher, the offset
    * sweep, and the frame-index writer (it was inlined per operator
    * before au04): bucket width is counted per (frame position, band,
    * value), the blocked join's quadratic axis when alignment is part
    * of the key. Same transport (map-side-combined aggregate +
    * broadcast raise, firing before any pair row materializes). */
  private def frameBandGuarded(rows: DataFrame, maxBandBucket: Int,
                               who: String): DataFrame = {
    require(maxBandBucket >= 1, s"maxBandBucket must be >= 1, got $maxBandBucket")
    val offend = rows.groupBy("frame_idx", "band", "bv")
      .agg(count(lit(1)).as("__w"))
      .filter(col("__w") > maxBandBucket)
    rows.join(broadcast(offend), Seq("frame_idx", "band", "bv"), "left")
      .withColumn("id",
        when(col("__w").isNotNull, raise_error(concat(
          lit(s"ImageHash.$who: frame position "),
          col("frame_idx").cast("string"), lit(" band "),
          col("band").cast("string"), lit(" value "),
          col("bv").cast("string"), lit(" holds "), col("__w").cast("string"),
          lit(s" frames, over maxBandBucket=$maxBandBucket; drop flat-frame " +
            "sludge (title cards, black frames, silence) upstream or raise " +
            "the cap deliberately"))))
          .otherwise(col("id")))
      .select("id", "frame_idx", "dhash", "band", "bv")
  }

  /** Band-bucket width cap: map-side-combined aggregate + broadcast
    * raise (band keys are low-cardinality — the r17 FuzzyJoin guard
    * transport), firing before any pair row materializes. */
  private def bandGuarded(bandRows: DataFrame, maxBandBucket: Int,
                          who: String): DataFrame = {
    require(maxBandBucket >= 1, s"maxBandBucket must be >= 1, got $maxBandBucket")
    val offend = bandRows.groupBy("band", "bv")
      .agg(count(lit(1)).as("__w"))
      .filter(col("__w") > maxBandBucket)
    bandRows.join(broadcast(offend), Seq("band", "bv"), "left")
      .withColumn("id",
        when(col("__w").isNotNull, raise_error(concat(
          lit(s"ImageHash.$who: band "), col("band").cast("string"),
          lit(" value "), col("bv").cast("string"), lit(" holds "),
          col("__w").cast("string"),
          lit(s" images, over maxBandBucket=$maxBandBucket; the in-bucket " +
            "pair join is quadratic in bucket width — drop flat/duplicate-" +
            "heavy sludge upstream or raise the cap deliberately"))))
          .otherwise(col("id")))
      .select("id", "dhash", "band", "bv")
  }

  /** Candidate dedup + popcount verify, shared by the inline and
    * incremental joins. Input carries (id_a, ha, id_b, hb). */
  private def verified(cands: DataFrame, maxHamming: Int): DataFrame =
    cands.select("id_a", "id_b", "ha", "hb").distinct() // multi-band collisions
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("id_a", "id_b")

  /** Video near-duplicate pairs by FRAME-ALIGNED banded Hamming
    * matching over per-frame dHashes ([[hashFrames]]) — the re-encode /
    * re-upload detector for video corpora: a transcoded copy keeps its
    * frame structure, so frame k of the copy is a near-dup of frame k
    * of the original. Input carries (id, frame_idx, dhash); two videos
    * pair when at least `minMatchNum / minMatchDen` of the LONGER
    * video's frames match at the same frame index within `maxHamming`
    * bits (exact integer cross-multiply — no FP threshold).
    *
    * The blocking join is on (frame_idx, band, bv): alignment is part
    * of the join key, so candidates are bounded by per-frame-position
    * bucket widths, never video×video. A reordered cut of the same
    * scenes does NOT pair (frame alignment is the semantics, not a
    * limitation — reordering is a different edit); a trimmed-intro
    * variant needs an offset sweep composed upstream, out of scope
    * here. The `maxBandBucket` cap guards flat-frame floods (title
    * cards, black frames) per frame position, same discipline and
    * transport as [[nearDupPairs]].
    *
    * Output: (id_a < id_b, n_matched), ordered.
    */
  def videoNearDupPairs(frames: DataFrame, maxHamming: Int,
                        minMatchNum: Int, minMatchDen: Int,
                        nBands: Int = 4,
                        maxBandBucket: Int = 1000000): DataFrame = {
    requireRecall(maxHamming, nBands)
    require(minMatchDen >= 1 && minMatchNum >= 1 && minMatchNum <= minMatchDen,
      s"match fraction must satisfy 1 <= num <= den, got $minMatchNum/$minMatchDen")
    val g = frameBandGuarded(
      bandRows(frames.select("id", "frame_idx", "dhash"), nBands),
      maxBandBucket, "videoNearDupPairs")
    // g feeds both self-join sides AND the per-video frame counts:
    // working-set materialization keeps the decode -> frame-hash ->
    // band -> guard prefix at ONE evaluation (the r17 fuzzy-join
    // prefix lesson). Frame counts derive from g itself — each frame
    // contributes exactly nBands band rows — so the input is never
    // re-read for the denominator.
    graft.operators.TextDedup.withWorkingSet(g) { gw =>
      val a = gw.select(col("id").as("id_a"), col("dhash").as("ha"),
        col("frame_idx"), col("band"), col("bv"))
      val b = gw.select(col("id").as("id_b"), col("dhash").as("hb"),
        col("frame_idx"), col("band"), col("bv"))
      val matched = a.join(b, Seq("frame_idx", "band", "bv"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "frame_idx", "ha", "hb").distinct()
        .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_matched"))
      val nFrames = gw.groupBy(col("id"))
        .agg((count(lit(1)) / nBands).cast("long").as("__nf"))
      matched
        .join(nFrames.select(col("id").as("id_a"), col("__nf").as("__na")), Seq("id_a"))
        .join(nFrames.select(col("id").as("id_b"), col("__nf").as("__nb")), Seq("id_b"))
        // n_matched / max(na, nb) >= num / den, exactly, in integers
        .filter(col("n_matched") * minMatchDen >=
          greatest(col("__na"), col("__nb")) * minMatchNum)
        .select("id_a", "id_b", "n_matched")
        .orderBy("id_a", "id_b")
    }
  }

  /** OFFSET-TOLERANT video near-duplicate pairs (mm06 — r17 directive
    * #3): [[videoNearDupPairs]] demands exact frame alignment, so a
    * copy with a trimmed intro (ads stripped, cold-open cut) never
    * pairs. This form sweeps a BOUNDED set of alignments: video b's
    * frame p is matched against video a's frame p + s for every shift
    * s in [−maxShift, maxShift], and the pair qualifies if its BEST
    * single shift matches ≥ minMatchNum/minMatchDen of the LONGER
    * video's frames (one consistent alignment — not a bag of
    * per-frame matches, which would let shuffled scenes accumulate
    * hits across different shifts).
    *
    * Scale shape: side a is replicated (2·maxShift+1)× with the
    * ALIGNED position `p = frame_idx − s` in the join key (the
    * RangeJoin bounded-replication discipline: the sweep width is a
    * small constant lever, never data-dependent), so candidates stay
    * bounded by per-position band buckets — maxShift multiplies the
    * join by a constant, it never reintroduces video×video. The
    * maxBandBucket guard runs on the TRUE frame positions before
    * replication, exactly as [[videoNearDupPairs]].
    *
    * Semantics note (fixture-proven): a ROTATED k-frame clip is a
    * (k−shift)-frame overlap under this sweep and legitimately pairs
    * when that overlap clears the fraction — offset tolerance cannot
    * and should not distinguish "rotation" from "trim + new tail". A
    * genuinely SHUFFLED cut shares no single alignment and does not
    * pair at any shift.
    *
    * Output: (id_a < id_b, n_matched, shift) — n_matched at the best
    * shift (ties → the smaller shift), where `shift` is how many
    * frames of id_a's intro are skipped (negative: id_b's). Ordered.
    */
  def videoNearDupPairsOffset(frames: DataFrame, maxHamming: Int,
                              minMatchNum: Int, minMatchDen: Int,
                              maxShift: Int, nBands: Int = 4,
                              maxBandBucket: Int = 1000000): DataFrame = {
    requireRecall(maxHamming, nBands)
    require(minMatchDen >= 1 && minMatchNum >= 1 && minMatchNum <= minMatchDen,
      s"match fraction must satisfy 1 <= num <= den, got $minMatchNum/$minMatchDen")
    require(maxShift >= 0, s"maxShift must be >= 0, got $maxShift")
    val g = frameBandGuarded(
      bandRows(frames.select("id", "frame_idx", "dhash"), nBands),
      maxBandBucket, "videoNearDupPairsOffset")
    graft.operators.TextDedup.withWorkingSet(g) { gw =>
      // side a replicated per shift; join key is the ALIGNED position
      val a = gw
        .select(col("id").as("id_a"), col("dhash").as("ha"),
          col("frame_idx"), col("band"), col("bv"),
          explode(sequence(lit(-maxShift), lit(maxShift))).as("shift"))
        .select(col("id_a"), col("ha"), col("shift"),
          (col("frame_idx") - col("shift")).as("pos"), col("band"), col("bv"))
      val b = gw.select(col("id").as("id_b"), col("dhash").as("hb"),
        col("frame_idx").as("pos"), col("band"), col("bv"))
      val matched = a.join(b, Seq("pos", "band", "bv"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "shift", "pos", "ha", "hb").distinct()
        .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
        .groupBy("id_a", "id_b", "shift")
        .agg(count(lit(1)).as("n"))
      val nFrames = gw.groupBy(col("id"))
        .agg((count(lit(1)) / nBands).cast("long").as("__nf"))
      matched
        // best single alignment: max n, ties to the smaller shift
        .groupBy("id_a", "id_b")
        .agg(max(struct(col("n"), (-col("shift")).as("__ns"))).as("m"))
        .select(col("id_a"), col("id_b"), col("m.n").as("n_matched"),
          (-col("m.__ns")).cast("int").as("shift"))
        .join(nFrames.select(col("id").as("id_a"), col("__nf").as("__na")), Seq("id_a"))
        .join(nFrames.select(col("id").as("id_b"), col("__nf").as("__nb")), Seq("id_b"))
        .filter(col("n_matched") * minMatchDen >=
          greatest(col("__na"), col("__nb")) * minMatchNum)
        .select("id_a", "id_b", "n_matched", "shift")
        .orderBy("id_a", "id_b")
    }
  }

  // ---- persisted band index (the dd11 lifecycle for images) --------
  // A crawl re-run should not re-decode and re-hash last month's
  // petabytes: the banded projection is persisted ONCE as a bucketed
  // path table ([[graft.operators.Layout.saveBucketedPath]], bucketed
  // by the band bucket so the nightly candidate join reads the index
  // side with ZERO exchange whatever its size), and each new batch is
  // hashed, banded, and joined against it — the recurring cost is the
  // NEW batch alone. The sidecar carries the banding PARAMETERS and,
  // since format v2, the [[graft.operators.IndexWitness]] fingerprint
  // of the data files, so an append or compaction that crashed after
  // its file commit is refused as stale, as in every persisted index.

  /** dHash index sidecar format: v2 added the [[graft.operators.IndexWitness]]
    * fingerprint + append lifecycle (r19 directive #1; shared by the
    * clip- and frame-level indexes and, via delegation, the audio
    * family). */
  val DhashIndexFormatVersion = 2

  /** The clip-level sidecar: `dhashNBands` beside the path-table
    * bucket spec. A frame index's sidecar carries `dhashFrameIndex` so
    * the two shapes refuse each other. */
  private val ClipSidecar = new graft.operators.PersistedIndex[Int]("dHash band",
      DhashIndexFormatVersion, "ImageHash.saveDhashIndex or AudioHash.saveAfpIndex",
      graft.operators.PersistedIndex.PathTable())(
    nBands => Seq("dhashNBands" -> nBands),
    f => {
      require(!f.props.get("dhashFrameIndex").contains("true"),
        s"${f.root} is a FRAME-level band index (saveFrameIndex) — its rows are " +
          "per-position hashes, not per-clip; query it with " +
          "incrementalNearDupPairsOffset, not the clip-level incremental join")
      f.int("dhashNBands")
    })

  /** The frame-level sidecar lives in `bands/`, but its fingerprint
    * covers the whole index root — bands/ AND counts/ — so a crash
    * between the two writes of a build or an append is the loud
    * witness-stale state instead of a silently count-less index. */
  private val FrameSidecar = new graft.operators.PersistedIndex[Int]("frame band",
      DhashIndexFormatVersion, "ImageHash.saveFrameIndex or AudioHash.saveSegmentIndex",
      graft.operators.PersistedIndex.PathTable("bands"))(
    nBands => Seq("dhashNBands" -> nBands, "dhashFrameIndex" -> true),
    f => {
      val nBands = f.int("dhashNBands")
      require(f.props.get("dhashFrameIndex").contains("true"),
        s"${f.root}/bands is a CLIP-level band index — query it with the " +
          "clip-level incremental join, not the offset sweep")
      nBands
    })

  /** Write the banded projection of `hashes` (id, dhash) to `path` as
    * a bucketed path table. `nBands` is fixed at save time (it IS the
    * blocking geometry); queries read it from the sidecar, so a
    * caller-side mismatch cannot exist. The width cap runs at save
    * time: an over-wide bucket would make every future incremental
    * query quadratic, so it dies here, named, instead. */
  def saveDhashIndex(hashes: DataFrame, path: String, nBands: Int = 4,
                     nBuckets: Int = 8, maxBandBucket: Int = 1000000): Unit = {
    require(nBands >= 2 && 64 % nBands == 0,
      s"nBands must divide 64 and be >= 2, got $nBands")
    val rows = bandGuarded(bandRows(hashes, nBands), maxBandBucket, "saveDhashIndex")
      .withColumn("bucket", concat_ws("#", col("band"), col("bv")))
    ClipSidecar.build(path) {
      graft.operators.Layout.saveBucketedPath(rows, path, "bucket", nBuckets,
        ClipSidecar.unblessed)
      nBands
    }
  }

  /** Append a batch's band rows into a [[saveDhashIndex]] corpus — the
    * nightly lifecycle step after [[incrementalNearDupPairs]] (r19
    * directive #1): band with the index's OWN persisted geometry,
    * bucketed-append under the existing spec (candidate joins stay
    * exchange-free on the index side), re-bless the witness last. The
    * width cap runs on the BATCH (the save-time cap already blessed
    * history; a flat-image flood in tonight's batch still dies loudly
    * before it lands). Contract: ids new to the index — survivors of
    * the batch dedup (the appendToSemanticIndex contract). */
  def appendToDhashIndex(newHashes: DataFrame, indexPath: String,
                         maxBandBucket: Int = 1000000): Unit =
    ClipSidecar.maintain(indexPath, "appendToDhashIndex") { nBands =>
      val rows = bandGuarded(bandRows(newHashes, nBands), maxBandBucket,
          "appendToDhashIndex")
        .withColumn("bucket", concat_ws("#", col("band"), col("bv")))
      graft.operators.Layout.appendBucketedPath(rows, indexPath)
      ((), Some(nBands))
    }

  /** Compact the per-night small files [[appendToDhashIndex]] accretes
    * (r19 directive #2): witness first, one file per bucket through the
    * BUCKETED writer ([[graft.operators.Layout.compactBucketedPath]]),
    * re-bless. Rows untouched — incremental pairs hash identically
    * pre/post (spec-gated). */
  def compactDhashIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String,
                        targetFileBytes: Long = 128L * 1024 * 1024)
      : graft.ingest.Compaction.CompactionStats =
    ClipSidecar.maintain(indexPath, "compactDhashIndex") { nBands =>
      val stats = graft.operators.Layout.compactBucketedPath(spark, indexPath,
        targetFileBytes)
      (stats, Option.when(stats.compacted)(nBands))
    }

  /** Near-dup pairs INVOLVING a new batch of hashes, against a
    * [[saveDhashIndex]] corpus: (indexed x new) band collisions plus
    * (new x new) — never (indexed x indexed), those were emitted when
    * the index was built. The index side joins exchange-free on its
    * bucket key; banding geometry comes from the index's own sidecar.
    * Output (id_a < id_b, hamming <= maxHamming), distinct, ordered. */
  def incrementalNearDupPairs(newHashes: DataFrame, indexPath: String,
                              maxHamming: Int,
                              maxBandBucket: Int = 1000000): DataFrame = {
    val nBands = ClipSidecar.verify(indexPath, "incrementalNearDupPairs")
    requireRecall(maxHamming, nBands)
    val idx = graft.operators.Layout.loadBucketedPath(
      newHashes.sparkSession, indexPath)._1
    // the new batch's band rows feed THREE join branches (old-new probe
    // + both sides of the new-new self-join); working-set
    // materialization keeps the decode -> hash -> band -> guard
    // pipeline at one evaluation (the TextDedup.incrementalCandidatePairs
    // discipline)
    graft.operators.TextDedup.withWorkingSet(
      bandGuarded(bandRows(newHashes, nBands), maxBandBucket,
          "incrementalNearDupPairs")
        .withColumn("bucket", concat_ws("#", col("band"), col("bv")))) { nb =>
      val oldNew = idx.select(col("id").as("id_o"), col("dhash").as("ho"),
          col("bucket"))
        .join(nb.select(col("id").as("id_n"), col("dhash").as("hn"),
          col("bucket")), Seq("bucket"))
        .filter(col("id_o") =!= col("id_n"))
        .select(least(col("id_o"), col("id_n")).as("id_a"),
          greatest(col("id_o"), col("id_n")).as("id_b"),
          col("ho").as("ha"), col("hn").as("hb")) // hamming is symmetric
      val newNew = nb.select(col("id").as("id_a"), col("dhash").as("ha"),
          col("bucket"))
        .join(nb.select(col("id").as("id_b"), col("dhash").as("hb"),
          col("bucket")), Seq("bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
      verified(oldNew.unionAll(newNew), maxHamming)
    }
  }

  // ---- persisted FRAME/SEGMENT band index (au04) ---------------------
  // The saveDhashIndex lifecycle for POSITION-hash corpora (video
  // frames, audio segments): a nightly crawl should not re-fingerprint
  // last month's clips to get TRIM-TOLERANT matching either. The index
  // persists the per-position banded projection (id, frame_idx, dhash,
  // band, bv) bucketed by band bucket — the candidate join reads the
  // index side exchange-free; the aligned position is an extra equi-key
  // inside the bucket — plus a per-id frame-count table (`counts/`),
  // because the offset sweep's fraction gate needs the LONGER side's
  // length and counting it from the index per query would re-scan the
  // corpus nightly. Sidecar marker `dhashFrameIndex` keeps the clip-
  // and frame-level indexes from misreading each other; the sidecar
  // lifecycle is the shared [[graft.operators.PersistedIndex]] one.

  /** Write the per-position banded projection + per-id frame counts of
    * `frames` (id, frame_idx, dhash) to `path`. The per-position width
    * cap runs at save time, as in [[saveDhashIndex]]. */
  def saveFrameIndex(frames: DataFrame, path: String, nBands: Int = 4,
                     nBuckets: Int = 8, maxBandBucket: Int = 1000000): Unit = {
    require(nBands >= 2 && 64 % nBands == 0,
      s"nBands must divide 64 and be >= 2, got $nBands")
    val rows = frameBandGuarded(
        bandRows(frames.select("id", "frame_idx", "dhash"), nBands),
        maxBandBucket, "saveFrameIndex")
      .withColumn("bucket", concat_ws("#", col("band"), col("bv")))
    // the banded frame feeds BOTH writes (bands table + per-id counts):
    // persisted for the duration so the decode → fingerprint → band →
    // guard prefix evaluates ONCE (r19 advisory — the counts aggregate
    // was a second action on unpersisted input, re-decoding the whole
    // corpus at nightly-crawl scale), honoring MaterializeConf like
    // every other dedup working set. Counts derive from the banded rows
    // themselves (each frame contributes exactly nBands band rows) —
    // the same count(*)/nBands denominator the query paths use.
    val eager = graft.operators.TextDedup.eagerMode(frames.sparkSession)
    FrameSidecar.build(path) {
      if (eager) rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        graft.operators.Layout.saveBucketedPath(rows, s"$path/bands", "bucket",
          nBuckets, FrameSidecar.unblessed)
        rows.groupBy(col("id"))
          .agg((count(lit(1)) / nBands).cast("long").as("n_frames"))
          .coalesce(1).write.mode("overwrite").parquet(s"$path/counts")
      } finally if (eager) rows.unpersist()
      nBands
    }
  }

  /** Append a batch's position-band rows + per-id frame counts into a
    * [[saveFrameIndex]] corpus — the nightly lifecycle step after
    * [[incrementalNearDupPairsOffset]] (r19 directive #1, the au05/mm08
    * gate): band with the index's OWN geometry, bucketed-append the
    * bands (exchange-free candidate joins preserved), append the
    * batch's count rows into `counts/` — ids are NEW by contract
    * (survivors), so the per-id count table stays one-row-per-id
    * without a rewrite of history — then re-bless the parent
    * fingerprint last. A crash between the two appends leaves the loud
    * witness-stale state, never a bands/counts mismatch the fraction
    * gate would silently mis-evaluate. */
  def appendToFrameIndex(newFrames: DataFrame, indexPath: String,
                         maxBandBucket: Int = 1000000): Unit =
    FrameSidecar.maintain(indexPath, "appendToFrameIndex") { nBands =>
      val spark = newFrames.sparkSession
      val rows = frameBandGuarded(
          bandRows(newFrames.select("id", "frame_idx", "dhash"), nBands),
          maxBandBucket, "appendToFrameIndex")
        .withColumn("bucket", concat_ws("#", col("band"), col("bv")))
      val eager = graft.operators.TextDedup.eagerMode(spark)
      if (eager) rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        graft.operators.Layout.appendBucketedPath(rows, s"$indexPath/bands")
        rows.groupBy(col("id"))
          .agg((count(lit(1)) / nBands).cast("long").as("n_frames"))
          .coalesce(1).write.mode("append").parquet(s"$indexPath/counts")
      } finally if (eager) rows.unpersist()
      ((), Some(nBands))
    }

  /** Compact both tables of a [[saveFrameIndex]] corpus after nightly
    * appends (r19 directive #2): bands through the BUCKETED writer,
    * `counts/` as a flat leaf rewrite, witness first / re-bless last.
    * Returns (bands, counts) stats. */
  def compactFrameIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String,
                        targetFileBytes: Long = 128L * 1024 * 1024)
      : Seq[graft.ingest.Compaction.CompactionStats] =
    FrameSidecar.maintain(indexPath, "compactFrameIndex") { nBands =>
      val bandStats = graft.operators.Layout.compactBucketedPath(
        spark, s"$indexPath/bands", targetFileBytes)
      val countStats = graft.ingest.Compaction.compactLeaf(
        spark, s"$indexPath/counts", targetFileBytes)
      (Seq(bandStats, countStats),
        Option.when(bandStats.compacted || countStats.compacted)(nBands))
    }

  /** Open a [[saveFrameIndex]] directory: (bands, counts, nBands) —
    * package-visible for the streaming twin (st20), which joins the
    * stream side against the static bands table. */
  private[graft] def loadFrameIndex(spark: org.apache.spark.sql.SparkSession,
                                    path: String): (DataFrame, DataFrame, Int) = {
    val nBands = FrameSidecar.verify(path, "loadFrameIndex")
    val bands = graft.operators.Layout.loadBucketedPath(spark, s"$path/bands")._1
    (bands, spark.read.parquet(s"$path/counts"), nBands)
  }

  /** OFFSET-TOLERANT near-dup pairs INVOLVING a new batch of
    * position-hashes, against a [[saveFrameIndex]] corpus (au04):
    * [[videoNearDupPairsOffset]]'s sweep semantics restricted to
    * (indexed × new) + (new × new) — never (indexed × indexed), those
    * were emitted at build time. The NEW side alone is replicated, in
    * BOTH roles: as the A side at pos = idx − s, and — for pairs where
    * the INDEXED clip is the A side — as the B probe at pos = idx + s
    * (old.idx − s = new.idx ⟺ old.idx = new.idx + s, so the indexed
    * side is never replicated and never re-read beyond the candidate
    * join). Frame counts for the fraction gate come from the index's
    * own counts/ table, never a corpus re-scan. Output
    * (id_a < id_b, n_matched, shift) at the best single shift,
    * ordered — exactly the full sweep's rows for pairs involving the
    * batch (spec-gated). */
  def incrementalNearDupPairsOffset(newFrames: DataFrame, indexPath: String,
                                    maxHamming: Int, minMatchNum: Int,
                                    minMatchDen: Int, maxShift: Int,
                                    maxBandBucket: Int = 1000000): DataFrame = {
    val spark = newFrames.sparkSession
    val (idx, oldCounts, nBands) = loadFrameIndex(spark, indexPath)
    requireRecall(maxHamming, nBands)
    require(minMatchDen >= 1 && minMatchNum >= 1 && minMatchNum <= minMatchDen,
      s"match fraction must satisfy 1 <= num <= den, got $minMatchNum/$minMatchDen")
    require(maxShift >= 0, s"maxShift must be >= 0, got $maxShift")
    val shifts = explode(sequence(lit(-maxShift), lit(maxShift))).as("shift")
    graft.operators.TextDedup.withWorkingSet(
      frameBandGuarded(
          bandRows(newFrames.select("id", "frame_idx", "dhash"), nBands),
          maxBandBucket, "incrementalNearDupPairsOffset")
        .withColumn("bucket", concat_ws("#", col("band"), col("bv")))) { nb =>
      val idxA = idx.select(col("id").as("id_o"), col("dhash").as("ho"),
        col("frame_idx").as("pos"), col("bucket"))
      // new as the A side (its intro skipped): aligned position in the key
      val nA = nb.select(col("id").as("id_n"), col("dhash").as("hn"),
          col("frame_idx"), col("bucket"), shifts)
        .select(col("id_n"), col("hn"), col("shift"),
          (col("frame_idx") - col("shift")).as("pos"), col("bucket"))
      // new as the B PROBE for indexed-side-A pairs: old.idx = new.idx + s
      val nBp = nb.select(col("id").as("id_n"), col("dhash").as("hn"),
          col("frame_idx"), col("bucket"), shifts)
        .select(col("id_n"), col("hn"), col("shift"),
          (col("frame_idx") + col("shift")).as("pos"), col("bucket"))
      val nB = nb.select(col("id").as("id_b"), col("dhash").as("hb"),
        col("frame_idx").as("pos"), col("bucket"))
      // batch orientation (id_a < id_b; shift = id_a's intro skip) per branch
      val newOld = nA.join(idxA, Seq("bucket", "pos"))
        .filter(col("id_n") < col("id_o"))
        .select(col("id_n").as("id_a"), col("id_o").as("id_b"), col("shift"),
          col("pos"), col("hn").as("ha"), col("ho").as("hb"))
      val oldNew = nBp.join(idxA, Seq("bucket", "pos"))
        .filter(col("id_o") < col("id_n"))
        .select(col("id_o").as("id_a"), col("id_n").as("id_b"), col("shift"),
          col("pos"), col("ho").as("ha"), col("hn").as("hb"))
      val newNew = nA.join(nB, Seq("bucket", "pos"))
        .filter(col("id_n") < col("id_b"))
        .select(col("id_n").as("id_a"), col("id_b"), col("shift"), col("pos"),
          col("hn").as("ha"), col("hb"))
      val matched = newOld.unionAll(oldNew).unionAll(newNew)
        .distinct() // multi-band collisions, once per (pair, shift, pos)
        .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
        .groupBy("id_a", "id_b", "shift")
        .agg(count(lit(1)).as("n"))
      val nFrames = oldCounts.select(col("id"), col("n_frames").cast("long"))
        .unionAll(nb.groupBy(col("id"))
          .agg((count(lit(1)) / nBands).cast("long").as("n_frames")))
      matched
        .groupBy("id_a", "id_b")
        .agg(max(struct(col("n"), (-col("shift")).as("__ns"))).as("m"))
        .select(col("id_a"), col("id_b"), col("m.n").as("n_matched"),
          (-col("m.__ns")).cast("int").as("shift"))
        .join(nFrames.select(col("id").as("id_a"), col("n_frames").as("__na")),
          Seq("id_a"))
        .join(nFrames.select(col("id").as("id_b"), col("n_frames").as("__nb")),
          Seq("id_b"))
        .filter(col("n_matched") * minMatchDen >=
          greatest(col("__na"), col("__nb")) * minMatchNum)
        .select("id_a", "id_b", "n_matched", "shift")
        .orderBy("id_a", "id_b")
    }
  }
}
