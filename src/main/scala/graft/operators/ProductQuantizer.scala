package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the standard compression
  * rung for ANN at corpus scales where raw vectors do not fit:
  * split each d-dim vector into `m` contiguous subvectors, learn a
  * small codebook per subspace, and represent a vector by its m
  * nearest-centroid ids — N·m small ints instead of N·d floats (64-dim
  * float32 → 4 bytes of codes at m=4/k=4 is a 64× memory cut).
  * Search uses ASYMMETRIC DISTANCE (ADC): the probe stays exact, a
  * per-subspace probe→centroid distance table (m·k entries) is
  * precomputed once, and each candidate's approximate distance is m
  * table lookups summed — no vector arithmetic per candidate.
  *
  * Determinism discipline ([[KMeansExact]] applied per subspace):
  * components quantize to micro-units, per-subspace Lloyd runs in
  * exact integer arithmetic (distances Σ(x−c)², centroid update
  * sum DIV count, argmin ties → lower cluster id, init = the k
  * smallest ids' subvectors), so codes, ADC tables, and the final
  * top-k are bit-identical across engines and partitionings — a full
  * hash oracle, not a recall band.
  *
  * Scale shape: training runs over the per-(id, sub) ARRAY frame
  * (id, sub, xs[d/m]) — built in-row, materialized ONCE; per
  * iteration the assignment is a map-only argmin against the m-row
  * broadcast of all k centroid arrays, and the only exchange is the
  * (sub, cluster, j) centroid-update aggregate (partial-aggregated to
  * ≤ m·k·(d/m) rows per task). ADC search joins the N·m code table
  * against the m·k broadcast lookup table and reduces per id: one
  * shuffle on id, then TakeOrderedAndProject. Nothing collects.
  */
object ProductQuantizer {

  /** Per-subspace codebooks + codes.
    * @param emb (vec_id, embedding) rows
    * @param d   dimensionality; must be divisible by m
    * @param m   number of subspaces
    * @param k   centroids per subspace
    * @return (codes, centroids): codes = (id, sub, cluster) — m rows
    *         per vector; centroids = (sub, cluster, j, c) — the
    *         geometry the codes were assigned against */
  def fitCodes(emb: DataFrame, d: Int, m: Int, k: Int, iterations: Int,
               unitScale: Long = 1000000L): (DataFrame, DataFrame) = {
    require(m >= 1 && d % m == 0, s"d=$d must be divisible by m=$m")
    val subDim = d / m
    // id pinned to long AT THE SOURCE: the persisted index's query path
    // reads codes with the fixed `id long` schema (CodesSchema), so an
    // int-id input must be widened at write time, not fail at read time
    // (r17 advisory). The m quantized SUBVECTOR ARRAYS are built
    // in-row (slice + transform — r22): no per-component posexplode,
    // so the Lloyd core's working set materializes with zero shuffle.
    val varr = emb
      .select(col("vec_id").cast("long").as("id"),
        posexplode(expr(
          s"transform(sequence(0, ${m - 1}), __s -> transform(" +
            s"slice(embedding, __s * $subDim + 1, $subDim), " +
            s"__v -> CAST(FLOOR(CAST(__v AS DOUBLE) * $unitScale + 0.5) AS BIGINT)))"))
          .as(Seq("sub", "xs")))
    fitCodesFromArrays(varr, emb.select(col("vec_id").cast("long").as("id")),
      k, iterations)
  }

  /** The Lloyd core over the per-(id, sub) ARRAY form (id, sub, xs) —
    * r22 shape: the long form joined k broadcast centroid rows per
    * component (×k row blowup) and reduced through TWO hash-aggregate
    * exchanges per iteration, plus an (id, sub)-keyed join of two
    * corpus-sized frames for the update. Here the assignment is a pure
    * projection (per row: Σ(x−c)² per centroid via zip_with +
    * aggregate, argmin via array_min over (dist, cluster) structs —
    * exactly min(struct(__dist, cluster))'s tie-break), and the update
    * explodes the code-carrying rows directly. Per iteration: zero
    * corpus exchanges for the assignment, one small partial-aggregated
    * exchange for the update (guide §2.4). */
  private def fitCodesFromArrays(varr: DataFrame, ids: DataFrame,
                                 k: Int, iterations: Int): (DataFrame, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // the working-set persist discipline by hand: this returns a
    // (codes, centroids) PAIR, which withWorkingSet's DataFrame
    // signature cannot carry — both results are round-checkpointed
    // before the unpersist, so the lifetime contract is identical
    val eagerHere = TextDedup.eagerMode(varr.sparkSession)
    val vw = if (eagerHere)
      varr.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else varr
    try {
      val smallK = ids.orderBy("id").limit(k)
        .withColumn("cluster",
          (row_number().over(Window.orderBy("id")) - 1).cast("int"))
      require(smallK.count() == k, s"product quantizer needs at least k=$k vectors")
      // centroids stay LONG-FORM (sub, cluster, j, c) between rounds —
      // the returned model artifact; the loop derives the m-row
      // broadcast array form (sub, cents[k]) from it per round.
      var centroids = vw.join(broadcast(smallK), "id")
        .select(col("sub"), col("cluster"), posexplode(col("xs")).as(Seq("j", "c")))
        .transform(TextDedup.roundCheckpoint)
      var codes: DataFrame = null
      var used: DataFrame = null
      for (i <- 1 to iterations) {
        used = centroids
        val cents = centroids.groupBy("sub", "cluster")
          .agg(array_sort(collect_list(struct(col("j"), col("c")))).as("__jc"))
          .select(col("sub"), struct(col("cluster"),
            expr("transform(__jc, p -> p.c)").as("cs")).as("cen"))
          .groupBy("sub")
          .agg(collect_list(col("cen")).as("cents"))
        // assignment: map-only over the persisted array frame. Lazy —
        // consumed exactly once per round (the update below, or the
        // final checkpoint), so the per-round materialization of the
        // r21 shape bought nothing.
        val assign = vw.join(broadcast(cents), "sub")
          .select(col("id"), col("sub"), col("xs"), expr(
            """array_min(transform(cents, cen -> named_struct(
              |  '__dist', aggregate(zip_with(xs, cen.cs, (x, c) -> (x - c) * (x - c)),
              |                      0L, (a, b) -> a + b),
              |  'cluster', cen.cluster)))""".stripMargin).as("m"))
          .select(col("id"), col("sub"), col("xs"), col("m.cluster").as("cluster"))
        // The returned pair is (last assignment, centroids USED for it):
        // the final round's centroid update would be computed — and
        // eagerly materialized — only to be thrown away. Skip it (r21;
        // one full join + aggregate + checkpoint saved per fit).
        if (i < iterations) {
          val updated = assign
            .select(col("sub"), col("cluster"), posexplode(col("xs")).as(Seq("j", "x")))
            .groupBy("sub", "cluster", "j")
            .agg(expr("sum(x) DIV count(1)").as("c_new"))
          centroids = centroids
            .join(updated, Seq("sub", "cluster", "j"), "left")
            .select(col("sub"), col("cluster"), col("j"),
              coalesce(col("c_new"), col("c")).as("c"))
            .transform(TextDedup.roundCheckpoint)
        } else {
          codes = assign.select(col("id"), col("sub"), col("cluster"))
            .transform(TextDedup.roundCheckpoint)
        }
      }
      (codes, used)
    } finally if (eagerHere) vw.unpersist()
  }

  // ---------------------------------------------------------------
  // Persisted PQ index — the production path (ivf_loaded / ir04 /
  // sd02 discipline): the fit runs ONCE; a query reads the N·m code
  // table plus the m·k·(d/m) centroid rows, builds the probe's ADC
  // lookup table, and reduces — no vector arithmetic per candidate,
  // no re-fit, and the raw embeddings are not read at all (the 64×
  // memory cut is realized at QUERY time, which is the point of PQ).
  // ---------------------------------------------------------------

  /** `codeRows` records the code-row count for observability and
    * incremental maintenance; `dataFp` is the consistency witness the
    * QUERY path checks — an [[IndexWitness]] file-listing fingerprint
    * (r16 advisory: the old per-query `codes.count()` was a full Spark
    * job over the index before every search). */
  final case class PqIndexMeta(d: Int, m: Int, k: Int, iterations: Int,
                               unitScale: Long, codeRows: Long, dataFp: String)

  /** The PQ sidecar. v2 = the dataFp file-listing witness replaced the
    * per-query row-count check. */
  private val PqSidecar = new PersistedIndex[PqIndexMeta]("pq", 2, "savePqIndex",
      PersistedIndex.PropsFile("_graft_pq_index.properties", "graft pq index"))(
    m => Seq("d" -> m.d, "m" -> m.m, "k" -> m.k, "iterations" -> m.iterations,
      "unitScale" -> m.unitScale, "codeRows" -> m.codeRows),
    f => PqIndexMeta(f.int("d"), f.int("m"), f.int("k"), f.int("iterations"),
      f.long("unitScale"), f.long("codeRows"), f.dataFp))

  /** Fit + persist: `codes/` (N·m rows) and `centroids/`, with an
    * atomic meta carrying the parameters and the file-listing witness,
    * in the [[PersistedIndex]] build order. */
  def savePqIndex(emb: DataFrame, d: Int, m: Int, k: Int, iterations: Int,
                  path: String, unitScale: Long = 1000000L): Unit = {
    val (codes, centroids) = fitCodes(emb, d, m, k, iterations, unitScale)
    PqSidecar.build(path) {
      codes.write.mode("overwrite").parquet(s"$path/codes")
      centroids.write.mode("overwrite").parquet(s"$path/centroids")
      val n = emb.sparkSession.read.parquet(s"$path/codes").count()
      PqIndexMeta(d, m, k, iterations, unitScale, n, dataFp = "")
    }
  }

  /** Append a batch of NEW vectors into a persisted index — the
    * [[Similarity.appendToSemanticIndex]] lifecycle for PQ: encode the
    * batch against the PERSISTED codebooks (the geometry never changes
    * on append — tomorrow's queries score today's corpus and the batch
    * under one quantizer), parquet-append the codes, update the
    * witness. The pre-append check makes a previously-interrupted
    * append fail loudly before compounding; an append that itself
    * crashes before the meta write leaves a fingerprint mismatch every
    * later call reports. Contract: `newEmb` vec_ids are new to the
    * index (the ingest effectively-once contract, as everywhere).
    *
    * Scale shape: one batch-sized argmin against m·k·(d/m) BROADCAST
    * centroid rows — the corpus codes are never read, never re-fit.
    */
  def appendToPqIndex(newEmb: DataFrame, path: String): Unit =
    PqSidecar.maintain(path, "appendToPqIndex") { meta =>
      val spark = newEmb.sparkSession
      val centroids = spark.read.schema(CentroidsSchema).parquet(s"$path/centroids")
      val subDim = meta.d / meta.m
      val v = newEmb
        .select(col("vec_id"),
          when(size(col("embedding")) =!= meta.d, raise_error(concat(
            lit("appendToPqIndex: embedding of length "),
            size(col("embedding")).cast("string"), lit(" for vec_id "),
            col("vec_id").cast("string"),
            lit(s" does not match the index dimensionality d=${meta.d}"))))
            .otherwise(col("embedding")).as("embedding"))
        .select(col("vec_id").cast("long").as("id"), // pinned CodesSchema `id long`
          posexplode(col("embedding")).as(Seq("dim", "__v")))
        .select(col("id"), (col("dim") / subDim).cast("int").as("sub"),
          (col("dim") % subDim).cast("int").as("j"),
          floor(col("__v").cast("double") * meta.unitScale + 0.5).cast("long").as("x"))
      // the fitCodesFromLong assignment stage verbatim, against the
      // persisted geometry (argmin ties → lower cluster id)
      val codes = v.join(broadcast(centroids), Seq("sub", "j"))
        .groupBy(col("id"), col("sub"), col("cluster"))
        .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("__dist"))
        .groupBy("id", "sub")
        .agg(min(struct(col("__dist"), col("cluster"))).as("m"))
        .select(col("id"), col("sub"), col("m.cluster").as("cluster"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val added = try {
        codes.write.mode("append").parquet(s"$path/codes")
        codes.count()
      } finally codes.unpersist()
      ((), Some(meta.copy(codeRows = meta.codeRows + added)))
    }

  /** Witness-check a persisted PQ index and return its meta — the
    * [[InvertedIndex.verifyIndex]] maintenance hook for this family:
    * run after any suspected interrupted append/compaction before
    * trusting searches, or to read the maintained stats without
    * touching the index (no Spark job — the witness is filesystem
    * metadata). */
  def verifyPqIndex(path: String): PqIndexMeta = PqSidecar.verify(path, "verifyPqIndex")

  /** Compact the small files the nightly append lifecycle accretes
    * (ix01 — r18 directive #2): [[appendToPqIndex]] parquet-appends one
    * batch-sized file set per night into `codes/`, so after N nights
    * every search opens N small files and footer overhead creeps into
    * probe latency. This composes [[graft.ingest.Compaction.compactLeaf]]
    * with the witness/meta discipline: witness first (a STALE index
    * must not be compacted — the inconsistency would be rewritten into
    * "clean" files; rebuild first), rewrite `codes/` into
    * ~targetFileBytes files, then re-fingerprint and re-bless the meta
    * atomically. Row CONTENT is untouched — searches are
    * hash-identical pre/post (spec-gated); only the listing changes,
    * which is exactly what the witness re-bless is for. A crash
    * between the file swap and the meta write leaves the loud
    * witness-stale state every later call reports (rebuild — same
    * window as an interrupted append). No-op (and no meta touch) when
    * already compact. */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     targetFileBytes: Long = 128L * 1024 * 1024)
      : graft.ingest.Compaction.CompactionStats =
    PqSidecar.maintain(path, "compactPqIndex") { meta =>
      val stats = graft.ingest.Compaction.compactLeaf(spark, s"$path/codes", targetFileBytes)
      (stats, Option.when(stats.compacted)(meta))
    }

  /** The probe→ADC-lookup-table projection shared by the one-probe and
    * batched indexed searches: per probe, the m·k per-subspace
    * probe→centroid distances. Dimensionality is a loud per-row
    * contract against the index meta. */
  private def probeTables(probe: DataFrame, centroids: DataFrame,
                          meta: PqIndexMeta, who: String): DataFrame = {
    val subDim = meta.d / meta.m
    val pv = probe
      .select(col("vec_id"),
        when(size(col("embedding")) =!= meta.d, raise_error(concat(
          lit(s"$who: probe embedding of length "),
          size(col("embedding")).cast("string"),
          lit(s" does not match the index dimensionality d=${meta.d}"))))
          .otherwise(col("embedding")).as("embedding"))
      .select(col("vec_id").as("__pid"),
        posexplode(col("embedding")).as(Seq("dim", "__v")))
      .select(col("__pid"), (col("dim") / subDim).cast("int").as("sub"),
        (col("dim") % subDim).cast("int").as("j"),
        floor(col("__v").cast("double") * meta.unitScale + 0.5).cast("long").as("px"))
    centroids.join(broadcast(pv), Seq("sub", "j"))
      .groupBy("sub", "cluster", "__pid")
      .agg(sum((col("px") - col("c")) * (col("px") - col("c"))).as("pdist"))
  }

  /** Pinned on-disk schemas for the index tables: skips parquet
    * schema-inference (a footer-reading Spark job per `spark.read`) on
    * the QUERY path — with the [[IndexWitness]] fingerprint this makes
    * search construction run ZERO jobs over the index. */
  private val CodesSchema = "id long, sub int, cluster int"
  private val CentroidsSchema = "sub int, cluster int, j int, c long"

  /** The one-probe contract check AND the probe materialization in ONE
    * job: the probe frame is often an expensive expression (a filter
    * over the whole corpus — probeOf(id) in every gate entry), and the
    * search needs it several times (lookup table; the IVF form also
    * ranks lists and builds per-list residuals from it). Collecting
    * the single row — bounded by the contract being enforced — and
    * re-issuing it as a LOCAL 1-row relation makes every later use
    * free instead of a corpus re-scan per use (Round18IvfPqProbe at
    * commit `e960c89`:
    * the re-scans, not the pruned code read, dominated indexed-probe
    * latency at 1M vectors). `who` names the caller in the errors. */
  private def oneProbeLocal(probe: DataFrame, who: String): DataFrame = {
    val spark = probe.sparkSession
    val projected = probe.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val rows = projected.limit(2).collect()
    require(rows.nonEmpty,
      s"$who: the probe frame is empty — the searched vec_id is " +
        "absent from the input (or the frame was pre-filtered to nothing); " +
        "an unguarded search here would return silently empty")
    require(rows.length == 1,
      s"$who: more than one probe row — the one-probe contract " +
        "would silently sum distances ACROSS probes; use adcTopKIndexedBatch " +
        "for multi-probe search")
    spark.createDataFrame(java.util.Arrays.asList(rows(0)), projected.schema)
  }

  /** ADC top-k against a PERSISTED index: `probe` is ONE (vec_id,
    * embedding) row — its id is excluded from candidates (pass an id
    * absent from the index to search with an external vector). The
    * one-row contract is ENFORCED (r16 advice: a silently multi-probe
    * frame used to sum pdist ACROSS probes, and an empty one returned
    * silently empty): a driver-side limit-2 COLLECT over the PROBE
    * frame — one tiny job, never the index, and the collected row is
    * re-issued as a local relation so the (often expensive) probe
    * expression is never re-evaluated ([[oneProbeLocal]]); an in-plan
    * raise_error cannot carry this contract because AQE's
    * empty-relation propagation legally folds the whole plan to empty
    * before the guard column is ever evaluated (measured). A stale index (interrupted
    * build/append) fails loudly via the file-listing witness — a
    * filesystem-metadata check, NO Spark job over the code table (r16
    * advisory; the old form paid a full `codes.count()` per search).
    * Multiple probes per pass belong on [[adcTopKIndexedBatch]]. */
  def adcTopKIndexed(probe: DataFrame, path: String, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val spark = probe.sparkSession
    val meta = PqSidecar.verify(path, "adcTopKIndexed")
    val local = oneProbeLocal(probe, "adcTopKIndexed")
    val codes = spark.read.schema(CodesSchema).parquet(s"$path/codes")
    val centroids = spark.read.schema(CentroidsSchema).parquet(s"$path/centroids")
    val table = probeTables(local, centroids, meta, "adcTopKIndexed")
    codes
      .join(broadcast(table), Seq("sub", "cluster"))
      .filter(col("id") =!= col("__pid"))
      .groupBy(col("id").as("vec_id"))
      .agg(sum("pdist").as("dist_u"))
      .orderBy(col("dist_u"), col("vec_id"))
      .limit(topK)
  }

  /** BATCHED ADC search against a persisted index — the production
    * retrieval shape (r16 directive #4): score N probes in ONE pass
    * over the code table instead of N sequential searches. `probes` is
    * a (vec_id, embedding) DataFrame; the result carries top-`topK`
    * candidates PER probe (each probe's own id excluded), ranked by
    * integer ADC distance ascending with vec_id tie-break.
    *
    * Scale shape: the per-probe lookup tables are P·m·k broadcast rows
    * (bounded by the probe batch — the same contract as every
    * broadcast-model operator here); the code table is scanned ONCE,
    * each code row joining its P table rows, and the per-probe top-k
    * is a (probe-keyed) window over the id-keyed sums — one shuffle on
    * (probe, id), one on probe, no per-probe driver loop, no per-probe
    * re-scan. Per-probe cost therefore AMORTIZES the scan: P probes
    * cost one code-table pass + P× the (tiny) table join width.
    *
    * An empty probe frame returns an empty result (a batch of zero
    * queries is a valid batch — unlike [[adcTopKIndexed]]'s one-row
    * contract, nothing can be silently half-scored here).
    *
    * @return (probe_id, vec_id, dist_u, rk) with rk = 1..topK per probe
    */
  def adcTopKIndexedBatch(probes: DataFrame, path: String, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val spark = probes.sparkSession
    val meta = PqSidecar.verify(path, "adcTopKIndexedBatch")
    val codes = spark.read.schema(CodesSchema).parquet(s"$path/codes")
    val centroids = spark.read.schema(CentroidsSchema).parquet(s"$path/centroids")
    val table = probeTables(probes, centroids, meta, "adcTopKIndexedBatch")
    val wP = Window.partitionBy("__pid").orderBy(col("dist_u"), col("vec_id"))
    codes
      .join(broadcast(table), Seq("sub", "cluster"))
      .filter(col("id") =!= col("__pid"))
      .groupBy(col("__pid"), col("id").as("vec_id"))
      .agg(sum("pdist").as("dist_u"))
      .withColumn("rk", row_number().over(wP))
      .filter(col("rk") <= topK)
      .select(col("__pid").as("probe_id"), col("vec_id"), col("dist_u"),
        col("rk").cast("int").as("rk"))
  }

  /** (id, dim, x) micro-quantized long form of an embedding frame —
    * the input shape of every integer stage here; id pinned long (the
    * persisted-index read-schema contract). */
  private def quantizedLongForm(emb: DataFrame, unitScale: Long): DataFrame =
    emb
      .select(col("vec_id").cast("long").as("id"),
        posexplode(col("embedding")).as(Seq("dim", "__v")))
      .select(col("id"), col("dim"),
        floor(col("__v").cast("double") * unitScale + 0.5).cast("long").as("x"))

  /** The IVF-PQ model fit — ONE implementation shared by the inline
    * search ([[ivfPqTopK]]) and the persisted index
    * ([[saveIvfPqIndex]]), so "the persisted index IS the inline
    * derivation" (the pq02-vs-pq01 proof pattern) holds by
    * construction: coarse integer k-means over the full vectors, then
    * residual PQ codebooks fitted on (vector − assigned coarse
    * centroid) — exact integer differences of micro-units, so
    * determinism survives the composition.
    * @return (coarseAssign (id, cluster..), coarseCentroids
    *         (cluster, dim, c), codes (id, sub, cluster),
    *         residCentroids (sub, cluster, j, c)) */
  private def ivfPqFit(emb: DataFrame, d: Int, m: Int,
                       kCoarse: Int, coarseIterations: Int,
                       kPq: Int, pqIterations: Int,
                       unitScale: Long): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(m >= 1 && d % m == 0, s"d=$d must be divisible by m=$m")
    val subDim = d / m
    val (coarseAssign, coarseCentroids) = KMeansExact.fitMicro(
      emb.select(col("vec_id").cast("long").as("id"), col("embedding").as("vec")),
      d = d, k = kCoarse, iterations = coarseIterations, unitScale = unitScale)
    // residuals against the ASSIGNED coarse centroid, already integer —
    // built IN-ROW as the m subvector arrays (quantized full array,
    // zip_with against the kCoarse-row broadcast centroid arrays, slice
    // per sub): the r21 shape joined the N·d long form against per-dim
    // centroid rows and the r22 pivot re-shuffled it into arrays; here
    // the only residual-path exchange is the N-row (id)-keyed
    // assignment join (guide §2.3: shuffle arrays, not components).
    val centArr = coarseCentroids.groupBy("cluster")
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("__dc"))
      .select(col("cluster").as("__cc"), expr("transform(__dc, p -> p.c)").as("cs"))
    val rvArr = emb
      .select(col("vec_id").cast("long").as("id"), expr(
        s"transform(embedding, __v -> CAST(FLOOR(CAST(__v AS DOUBLE) * $unitScale + 0.5) AS BIGINT))")
        .as("xs"))
      .join(coarseAssign.select(col("id"), col("cluster").as("__cc")), "id")
      .join(broadcast(centArr), "__cc")
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), __s -> slice(" +
          s"zip_with(xs, cs, (x, c) -> x - c), __s * $subDim + 1, $subDim))"))
        .as(Seq("sub", "xs")))
    val (codes, residCentroids) = fitCodesFromArrays(rvArr,
      emb.select(col("vec_id").cast("long").as("id")), kPq, pqIterations)
    (coarseAssign, coarseCentroids, codes, residCentroids)
  }

  /** IVF-PQ (Jégou et al.'s IVFADC — the standard billion-scale ANN
    * stack, composed from the house pieces): a coarse integer k-means
    * ([[KMeansExact.fitMicro]]) partitions the corpus into lists; the
    * product quantizer is trained on the RESIDUALS (vector − assigned
    * coarse centroid — exact integer differences of micro-units, so
    * determinism survives the composition); a probe visits only its
    * `nProbe` nearest lists, and candidates there are scored by ADC
    * over the residual codes with a PER-LIST lookup table (the probe's
    * residual differs per list).
    *
    * Scale shape: search touches nProbe/kCoarse of the code table
    * (list-pruned — IVF's lever) and does m lookups per candidate
    * (PQ's lever); the only candidate-sized work is one id-keyed sum.
    * Every stage is the already-gated machinery of km01 + pq01 —
    * this entry proves they COMPOSE (the er01 precedent).
    *
    * THIS form re-fits both codebooks per call — the one-shot
    * convenience (the Similarity.ivfTopK role). Production searches go
    * through the PERSISTED index ([[saveIvfPqIndex]] /
    * [[ivfPqTopKIndexed]]), where the fit is amortized to zero and the
    * nProbe list pruning happens in the parquet partition layout
    * (r17 verdict: the per-call refit was the last O(corpus)-per-query
    * path in the ANN family).
    *
    * @return (vec_id, dist_u) top-`topK` by integer ADC distance
    *         ascending, vec_id tie-break, probe excluded */
  def ivfPqTopK(emb: DataFrame, probeId: Long, topK: Int, d: Int, m: Int,
                kCoarse: Int, coarseIterations: Int,
                kPq: Int, pqIterations: Int, nProbe: Int,
                unitScale: Long = 1000000L): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(nProbe >= 1 && nProbe <= kCoarse,
      s"nProbe must be in [1, kCoarse=$kCoarse], got $nProbe")
    val (coarseAssign, coarseCentroids, codes, residCentroids) =
      ivfPqFit(emb, d, m, kCoarse, coarseIterations, kPq, pqIterations, unitScale)
    val subDim = d / m
    val v = quantizedLongForm(emb, unitScale)
    // probe's nProbe nearest coarse lists (exact integer distance over
    // kCoarse broadcast rows — orderBy/limit on a k-row frame)
    val pv = v.filter(col("id") === probeId).select(col("dim"), col("x").as("px"))
    // Driver-side existence check: an absent probeId must fail loudly,
    // not probe zero lists and return silently empty (r16 advice). An
    // in-plan raise_error cannot carry this — AQE's empty-relation
    // propagation folds the plan to empty before the guard evaluates
    // (measured on the indexed path); one limit-1 job over the
    // projected scan is noise next to the inline k-means fit.
    require(!pv.isEmpty,
      s"ivfPqTopK: probe vec_id=$probeId is absent from emb — zero lists " +
        "would be probed and the result silently empty")
    val probed = coarseCentroids.join(broadcast(pv), "dim")
      .groupBy(col("cluster").as("__cc"))
      .agg(sum((col("px") - col("c")) * (col("px") - col("c"))).as("__cdist"))
      .orderBy(col("__cdist"), col("__cc"))
      .limit(nProbe)
      .select("__cc")
    // per-list probe residuals → per-list ADC tables over the residual
    // codebooks (nProbe·m·kPq rows — broadcast-tiny)
    val prx = coarseCentroids
      .join(broadcast(probed.withColumnRenamed("__cc", "cluster")), "cluster")
      .join(broadcast(pv), "dim")
      .select(col("cluster").as("__cc"),
        (col("dim") / subDim).cast("int").as("sub"),
        (col("dim") % subDim).cast("int").as("j"),
        (col("px") - col("c")).as("rx"))
    val table = prx
      .join(broadcast(residCentroids.select(col("sub"), col("cluster"), col("j"),
        col("c"))), Seq("sub", "j"))
      .groupBy("__cc", "sub", "cluster")
      .agg(sum((col("rx") - col("c")) * (col("rx") - col("c"))).as("pdist"))
    // candidates: codes of vectors living in the probed lists
    codes
      .join(coarseAssign.select(col("id"), col("cluster").as("__cc")), "id")
      .join(broadcast(probed), Seq("__cc"), "left_semi")
      .filter(col("id") =!= probeId)
      .join(broadcast(table), Seq("__cc", "sub", "cluster"))
      .groupBy(col("id").as("vec_id"))
      .agg(sum("pdist").as("dist_u"))
      .orderBy(col("dist_u"), col("vec_id"))
      .limit(topK)
  }

  /** ADC top-k: the `topK` nearest candidates to `probeId` by PQ
    * distance (sum of per-subspace probe→centroid distances under the
    * candidate's codes), ascending, vec_id tie-break, probe excluded.
    * @return (vec_id, dist_u) — dist_u the exact integer ADC distance */
  def adcTopK(emb: DataFrame, probeId: Long, topK: Int,
              d: Int, m: Int, k: Int, iterations: Int,
              unitScale: Long = 1000000L): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val subDim = d / m
    val (codes, centroids) = fitCodes(emb, d, m, k, iterations, unitScale)
    // exact probe subvectors → the m·k ADC lookup table, in one
    // aggregate over broadcast-joined centroid rows
    val probe = emb.filter(col("vec_id") === probeId)
      .select(posexplode(col("embedding")).as(Seq("dim", "__v")))
      .select((col("dim") / subDim).cast("int").as("sub"),
        (col("dim") % subDim).cast("int").as("j"),
        floor(col("__v").cast("double") * unitScale + 0.5).cast("long").as("px"))
    // LEFT join + per-group component count: an absent (or duplicated)
    // probeId fails loudly instead of returning silently empty (r16
    // advice — the inner join dropped every centroid row when the
    // probe filter matched nothing).
    val table = centroids.join(broadcast(probe), Seq("sub", "j"), "left")
      .groupBy("sub", "cluster")
      .agg(sum((col("px") - col("c")) * (col("px") - col("c"))).as("pdist0"),
        count(col("px")).as("__npx"))
      .select(col("sub"), col("cluster"),
        when(col("__npx") =!= subDim, raise_error(lit(
          s"adcTopK: probe vec_id=$probeId is absent from emb (or present more " +
            "than once) — a silent empty result would look like an empty index")))
          .otherwise(col("pdist0")).as("pdist"))
    codes.filter(col("id") =!= probeId)
      .join(broadcast(table), Seq("sub", "cluster"))
      .groupBy(col("id").as("vec_id"))
      .agg(sum("pdist").as("dist_u"))
      .orderBy(col("dist_u"), col("vec_id"))
      .limit(topK)
  }

  // ---------------------------------------------------------------
  // Persisted IVF-PQ index (r17 directive #1) — the production form
  // of ivfPqTopK, which re-fits both codebooks per call: the fit runs
  // ONCE (saveIvfPqIndex); the code table is written PARTITIONED BY
  // its coarse list, so a probe's "visit nProbe of kCoarse lists"
  // is enforced by parquet partition pruning at the storage layer
  // (the IvfIndex discipline) — a search against a 100 TB code table
  // reads nProbe/kCoarse of the bytes, plus two broadcast-tiny
  // centroid tables. Composes savePqIndex's witness/meta lifecycle
  // with IvfIndex's list-partitioned layout.
  // ---------------------------------------------------------------

  /** Pinned on-disk schemas (zero schema-inference jobs on the query
    * path, as with [[CodesSchema]]). `list_id` is the partition
    * column of the code table — each vector's m code rows live in its
    * coarse list's partition. */
  private val IvfPqCodesSchema = "id long, sub int, cluster int, list_id int"
  private val CoarseSchema = "cluster int, dim int, c long"

  final case class IvfPqIndexMeta(d: Int, m: Int, kCoarse: Int,
                                  coarseIterations: Int, kPq: Int,
                                  pqIterations: Int, unitScale: Long,
                                  codeRows: Long, dataFp: String,
                                  listCounts: Map[Int, Long])

  /** The IVF-PQ sidecar. v3 added `listCounts` — per-list code-row
    * counts, the drift signal [[appendToIvfPqIndex]]'s skew witness
    * reads (r18 directive #3: coarse geometry is frozen on append by
    * contract, so under corpus drift the lists skew and nProbe pruning
    * quietly degrades; the counts make that loud). They are written as
    * kCoarse `list:count` entries, ascending — small by the same
    * contract that makes the coarse table broadcastable. */
  private val IvfPqSidecar = new PersistedIndex[IvfPqIndexMeta]("ivf-pq", 3,
      "saveIvfPqIndex",
      PersistedIndex.PropsFile("_graft_ivfpq_index.properties", "graft ivf-pq index"))(
    m => Seq("d" -> m.d, "m" -> m.m, "kCoarse" -> m.kCoarse,
      "coarseIterations" -> m.coarseIterations, "kPq" -> m.kPq,
      "pqIterations" -> m.pqIterations, "unitScale" -> m.unitScale,
      "codeRows" -> m.codeRows,
      "listCounts" -> m.listCounts.toSeq.sorted.map { case (l, c) => s"$l:$c" }.mkString(",")),
    f => IvfPqIndexMeta(f.int("d"), f.int("m"), f.int("kCoarse"),
      f.int("coarseIterations"), f.int("kPq"), f.int("pqIterations"),
      f.long("unitScale"), f.long("codeRows"), f.dataFp,
      f("listCounts").split(',').filter(_.nonEmpty).map { e =>
        val Array(l, c) = e.split(':')
        l.toInt -> c.toLong
      }.toMap))

  /** Fit + persist the IVF-PQ model: `coarse/` (kCoarse·d centroid
    * rows), `centroids/` (the m·kPq·(d/m) residual codebooks), and
    * `codes/` — (id, sub, cluster) PARTITIONED BY `list_id`, the
    * vector's coarse list, so probe-time list pruning happens in the
    * parquet file index. Meta in the [[PersistedIndex]] build order. */
  def saveIvfPqIndex(emb: DataFrame, d: Int, m: Int,
                     kCoarse: Int, coarseIterations: Int,
                     kPq: Int, pqIterations: Int, path: String,
                     unitScale: Long = 1000000L): Unit = {
    val (coarseAssign, coarseCentroids, codes, residCentroids) =
      ivfPqFit(emb, d, m, kCoarse, coarseIterations, kPq, pqIterations, unitScale)
    IvfPqSidecar.build(path) {
      coarseCentroids.select(col("cluster"), col("dim"), col("c"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse")
      residCentroids.select(col("sub"), col("cluster"), col("j"), col("c"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      // the code frame feeds the write AND the meta stats (total +
      // per-list counts): persist it and count the persisted frame — the
      // appendToIvfPqIndex pattern — instead of re-reading the whole
      // codes/ directory after the write (r18 verdict: one extra full
      // scan at build time, cosmetic at 1M codes, real at 10B)
      val withList = codes
        .join(coarseAssign.select(col("id"), col("cluster").as("list_id")), "id")
        .select(col("id"), col("sub"), col("cluster"), col("list_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val counts = try {
        withList.write.mode("overwrite").partitionBy("list_id").parquet(s"$path/codes")
        listCountsOf(withList)
      } finally withList.unpersist()
      IvfPqIndexMeta(d, m, kCoarse, coarseIterations, kPq, pqIterations, unitScale,
        counts.values.sum, dataFp = "", counts)
    }
  }

  /** Per-list code-row counts of a (…, list_id) code frame — ≤ kCoarse
    * rows collected, bounded by the same contract that makes the coarse
    * centroid table broadcastable. */
  private def listCountsOf(codes: DataFrame): Map[Int, Long] =
    codes.groupBy("list_id").agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Append NEW vectors into a persisted IVF-PQ index (the
    * [[appendToPqIndex]] lifecycle): each batch vector is
    * coarse-assigned against the PERSISTED coarse centroids (the list
    * geometry never changes on append), its residual encoded against
    * the PERSISTED residual codebooks, and the code rows
    * parquet-appended into their list partitions; the witness is
    * re-fingerprinted last. Scale shape: one batch-sized pass against
    * two broadcast centroid tables — the corpus codes are never read,
    * never re-fit. Contract: `newEmb` vec_ids are new to the index.
    *
    * LIST-SKEW witness (r18 directive #3): freezing the coarse geometry
    * on append is the right call for nightly batches (tomorrow's
    * queries must score today's corpus and the batch under ONE
    * quantizer), but under corpus drift the frozen lists skew — new
    * vectors pile into a few lists — and nProbe pruning quietly
    * degrades toward a full scan of the fat lists. The meta's per-list
    * counts make that loud: after merging the batch's counts, if
    * `max(list) / (total / kCoarse)` exceeds `maxListSkew`, the append
    * REFUSES (before writing anything) and names the remedy — re-fit
    * the coarse geometry with saveIvfPqIndex over the full corpus.
    * Empty lists drag the mean down BY DESIGN: lists dying while
    * others fatten is exactly what drift looks like. */
  def appendToIvfPqIndex(newEmb: DataFrame, path: String,
                         maxListSkew: Double = 16.0): Unit = {
    val spark = newEmb.sparkSession
    require(maxListSkew >= 1.0, s"maxListSkew must be >= 1, got $maxListSkew")
    IvfPqSidecar.maintain(path, "appendToIvfPqIndex") { meta =>
      val coarse = spark.read.schema(CoarseSchema).parquet(s"$path/coarse")
      val residCentroids = spark.read.schema(CentroidsSchema)
        .parquet(s"$path/centroids")
      val subDim = meta.d / meta.m
      val v = quantizedLongForm(
        newEmb.select(col("vec_id"),
          when(size(col("embedding")) =!= meta.d, raise_error(concat(
            lit("appendToIvfPqIndex: embedding of length "),
            size(col("embedding")).cast("string"), lit(" for vec_id "),
            col("vec_id").cast("string"),
            lit(s" does not match the index dimensionality d=${meta.d}"))))
            .otherwise(col("embedding")).as("embedding")),
        meta.unitScale)
      // coarse assignment: the fitMicro assignment stage verbatim against
      // the persisted geometry (argmin ties → lower cluster id)
      val assign = v.join(broadcast(coarse), "dim")
        .groupBy(col("id"), col("cluster"))
        .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("__dist"))
        .groupBy("id")
        .agg(min(struct(col("__dist"), col("cluster"))).as("m"))
        .select(col("id"), col("m.cluster").as("list_id"))
      // residual encode: fitCodesFromLong's assignment stage verbatim
      // against the persisted residual codebooks
      val rv = v
        .join(assign, "id")
        .join(broadcast(coarse.select(col("cluster").as("list_id"),
          col("dim"), col("c"))), Seq("list_id", "dim"))
        .select(col("id"), col("list_id"),
          (col("dim") / subDim).cast("int").as("sub"),
          (col("dim") % subDim).cast("int").as("j"),
          (col("x") - col("c")).as("x"))
      val codes = rv.join(broadcast(residCentroids), Seq("sub", "j"))
        .groupBy(col("id"), col("list_id"), col("sub"), col("cluster"))
        .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("__dist"))
        .groupBy("id", "list_id", "sub")
        .agg(min(struct(col("__dist"), col("cluster"))).as("m"))
        .select(col("id"), col("sub"), col("m.cluster").as("cluster"), col("list_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // skew witness BEFORE the write: a refused append leaves the
        // index untouched (the caller still holds the batch; the remedy
        // re-ingests it through the rebuild)
        val merged = (meta.listCounts.toSeq ++ listCountsOf(codes).toSeq)
          .groupMapReduce(_._1)(_._2)(_ + _)
        val total = merged.values.sum
        val mean = total.toDouble / meta.kCoarse
        val (fatList, fatCount) = merged.maxBy(_._2)
        require(fatCount <= maxListSkew * mean,
          f"appendToIvfPqIndex: list $fatList would hold $fatCount code rows, " +
            f"${fatCount / mean}%.1f× the kCoarse=${meta.kCoarse} mean " +
            f"($mean%.1f) — over maxListSkew=$maxListSkew. The coarse geometry " +
            "is frozen on append and the corpus has drifted away from it; " +
            "nProbe pruning is degrading. Re-fit with saveIvfPqIndex over the " +
            "full corpus (including this batch), or raise the cap deliberately")
        codes.write.mode("append").partitionBy("list_id").parquet(s"$path/codes")
        ((), Some(meta.copy(codeRows = total, listCounts = merged)))
      } finally codes.unpersist()
    }
  }

  /** [[verifyPqIndex]] for the IVF-PQ family. The returned meta carries
    * the per-list code counts (v3), so an operator can READ the
    * list-skew drift signal — `max(listCounts) / (codeRows / kCoarse)`
    * — on a schedule instead of discovering it when an append refuses;
    * zero Spark jobs either way. */
  def verifyIvfPqIndex(path: String): IvfPqIndexMeta =
    IvfPqSidecar.verify(path, "verifyIvfPqIndex")

  /** [[compactPqIndex]] for the list-partitioned IVF-PQ layout: every
    * nightly [[appendToIvfPqIndex]] drops one file set into EACH list
    * partition it touches, so per-list file counts grow with append
    * count and the probe's nProbe-pruned scan pays N footer opens per
    * probed list. Walks the `codes/` partition tree
    * ([[graft.ingest.Compaction.compactPartitioned]]), compacting every
    * over-fragmented `list_id=` leaf, then re-blesses the witness.
    * Same contract as [[compactPqIndex]]: witness-checked first,
    * content-identical, crash window = witness-stale = rebuild. */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                        targetFileBytes: Long = 128L * 1024 * 1024)
      : Seq[graft.ingest.Compaction.CompactionStats] =
    IvfPqSidecar.maintain(path, "compactIvfPqIndex") { meta =>
      val stats = graft.ingest.Compaction.compactPartitioned(
        spark, s"$path/codes", targetFileBytes)
      (stats, Option.when(stats.exists(_.compacted))(meta))
    }

  /** BATCHED IVF-PQ search against a persisted index — the
    * [[adcTopKIndexedBatch]] production shape with list pruning: N
    * probes are scored in ONE pass over the UNION of their probed list
    * partitions. Per-probe list ranking runs as one job over the
    * kCoarse-row coarse table × the P-row probe batch and is collected
    * (≤ P·nProbe (probe, list) pairs — bounded by the batch, the
    * broadcast-model contract of every batched searcher here), so the
    * code scan carries LITERAL partition filters for the probed-list
    * UNION; each code row then joins only its own probes' per-list ADC
    * tables (keyed probe × list × sub × cluster, broadcast — P·nProbe·
    * m·kPq rows), and the per-probe top-k is a probe-keyed window. An
    * empty probe frame returns an empty result (a batch of zero
    * queries is a valid batch). `maxProbes` is the loud cap on P — the
    * driver-collect and broadcast axes both scale with it (r18
    * advisory: an accidentally unfiltered probe frame, e.g. the whole
    * corpus, used to drive an unbounded collect; every other
    * driver-side axis here carries a named cap) — counted from the
    * already-persisted probe projection, no extra pass.
    * @return (probe_id, vec_id, dist_u, rk), rk = 1..topK per probe */
  def ivfPqTopKIndexedBatch(probes: DataFrame, path: String, topK: Int,
                            nProbe: Int, maxProbes: Int = 10000): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(maxProbes >= 1, s"maxProbes must be >= 1, got $maxProbes")
    val spark = probes.sparkSession
    val meta = IvfPqSidecar.verify(path, "ivfPqTopKIndexedBatch")
    require(nProbe >= 1 && nProbe <= meta.kCoarse,
      s"nProbe must be in [1, kCoarse=${meta.kCoarse}], got $nProbe")
    val subDim = meta.d / meta.m
    val coarse = spark.read.schema(CoarseSchema).parquet(s"$path/coarse")
    val residCentroids = spark.read.schema(CentroidsSchema)
      .parquet(s"$path/centroids")
    val pv = quantizedLongForm(
      probes.select(col("vec_id"),
        when(size(col("embedding")) =!= meta.d, raise_error(concat(
          lit("ivfPqTopKIndexedBatch: probe embedding of length "),
          size(col("embedding")).cast("string"),
          lit(s" does not match the index dimensionality d=${meta.d}"))))
          .otherwise(col("embedding")).as("embedding")),
      meta.unitScale)
      .select(col("id").as("__pid"), col("dim"), col("x").as("px"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // P from the persisted projection (d rows per probe) — this count
      // also materializes the persist the stages below reuse
      val nProbes = pv.count() / meta.d
      require(nProbes <= maxProbes,
        s"ivfPqTopKIndexedBatch: $nProbes probe rows exceed maxProbes=" +
          s"$maxProbes — the per-probe list ranking collects P·nProbe pairs " +
          "to the driver and broadcasts P·nProbe·m·kPq ADC rows; an " +
          "unfiltered probe frame (the whole corpus?) would be unbounded. " +
          "Batch the probes, or raise the cap deliberately")
      // per-probe nProbe nearest lists, collected: ≤ P·nProbe pairs,
      // and the listing gives the LITERAL union the partition filter
      // prunes on (the one-probe path's discipline, batched)
      val wP = Window.partitionBy("__pid").orderBy(col("__cdist"), col("cluster"))
      val probed = coarse.join(broadcast(pv), "dim")
        .groupBy("__pid", "cluster")
        .agg(sum((col("px") - col("c")) * (col("px") - col("c"))).as("__cdist"))
        .withColumn("__rk", row_number().over(wP))
        .filter(col("__rk") <= nProbe)
        .select(col("__pid"), col("cluster").as("list_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1)))
      val lists = probed.map(_._2).distinct.toSeq
      if (lists.isEmpty) {
        // empty batch: empty result with the contract schema
        return spark.range(0).select(col("id").as("probe_id"),
          col("id").as("vec_id"), col("id").as("dist_u"),
          col("id").cast("int").as("rk"))
      }
      val probedDf = spark.createDataFrame(
        java.util.Arrays.asList(probed.map(p =>
          org.apache.spark.sql.Row(p._1, p._2)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__pid",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("list_id",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
      // per-(probe, list) residuals → ADC tables (P·nProbe·m·kPq rows);
      // pv joins on (__pid, dim) — each probed (probe, list) pair takes
      // the PROBE'S OWN vector against that list's centroid
      val prx = coarse
        .filter(col("cluster").isin(lists: _*))
        .withColumnRenamed("cluster", "list_id")
        .join(broadcast(probedDf), Seq("list_id"))
        .join(broadcast(pv), Seq("__pid", "dim"))
        .select(col("__pid"), col("list_id"),
          (col("dim") / subDim).cast("int").as("sub"),
          (col("dim") % subDim).cast("int").as("j"),
          (col("px") - col("c")).as("rx"))
      val table = prx
        .join(broadcast(residCentroids), Seq("sub", "j"))
        .groupBy("__pid", "list_id", "sub", "cluster")
        .agg(sum((col("rx") - col("c")) * (col("rx") - col("c"))).as("pdist"))
      val wT = Window.partitionBy("__pid").orderBy(col("dist_u"), col("vec_id"))
      spark.read.schema(IvfPqCodesSchema).parquet(s"$path/codes")
        .filter(col("list_id").isin(lists: _*)) // -> parquet PartitionFilters
        .join(broadcast(table), Seq("list_id", "sub", "cluster"))
        .filter(col("id") =!= col("__pid"))
        .groupBy(col("__pid"), col("id").as("vec_id"))
        .agg(sum("pdist").as("dist_u"))
        .withColumn("rk", row_number().over(wT))
        .filter(col("rk") <= topK)
        .select(col("__pid").as("probe_id"), col("vec_id"), col("dist_u"),
          col("rk").cast("int").as("rk"))
    } finally pv.unpersist()
  }

  /** IVF-PQ search against a PERSISTED index — [[ivfPqTopK]] with the
    * fit amortized to zero and the list pruning pushed into the
    * STORAGE layer: the probe's `nProbe` nearest lists are ranked over
    * the kCoarse-row coarse table and collected (≤ kCoarse ints — the
    * [[IvfIndex]] nearestLists budget), so the code-table scan carries
    * LITERAL partition filters and parquet prunes to exactly nProbe of
    * kCoarse list partitions; candidates there are scored by ADC with
    * the probe's PER-LIST residual lookup tables (nProbe·m·kPq
    * broadcast rows). One-probe contract, staleness witness, and
    * raise-on-empty exactly as [[adcTopKIndexed]].
    *
    * @return (vec_id, dist_u) top-`topK` by integer ADC distance
    *         ascending, vec_id tie-break, probe excluded */
  def ivfPqTopKIndexed(probe: DataFrame, path: String, topK: Int,
                       nProbe: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val spark = probe.sparkSession
    val meta = IvfPqSidecar.verify(path, "ivfPqTopKIndexed")
    require(nProbe >= 1 && nProbe <= meta.kCoarse,
      s"nProbe must be in [1, kCoarse=${meta.kCoarse}], got $nProbe")
    // one collect does the contract check AND pins the probe locally:
    // the IVF search needs the probe THREE more times (probe id, list
    // ranking, per-list residual tables) and a corpus-derived probe
    // frame must not be re-scanned per use (Round18IvfPqProbe, commit e960c89)
    val local = oneProbeLocal(probe, "ivfPqTopKIndexed")
    val subDim = meta.d / meta.m
    val coarse = spark.read.schema(CoarseSchema).parquet(s"$path/coarse")
    val residCentroids = spark.read.schema(CentroidsSchema)
      .parquet(s"$path/centroids")
    val pv = quantizedLongForm(
      local.select(col("vec_id"),
        when(size(col("embedding")) =!= meta.d, raise_error(concat(
          lit("ivfPqTopKIndexed: probe embedding of length "),
          size(col("embedding")).cast("string"),
          lit(s" does not match the index dimensionality d=${meta.d}"))))
          .otherwise(col("embedding")).as("embedding")),
      meta.unitScale)
      .select(col("id").as("__pid"), col("dim"), col("x").as("px"))
    // nProbe nearest lists, COLLECTED (≤ kCoarse ints): literal values
    // in the codes filter are what parquet partition pruning prunes on
    val probeId = pv.select("__pid").head().getLong(0)
    val lists = coarse.join(broadcast(pv.select("dim", "px")), "dim")
      .groupBy("cluster")
      .agg(sum((col("px") - col("c")) * (col("px") - col("c"))).as("__cdist"))
      .orderBy(col("__cdist"), col("cluster"))
      .limit(nProbe)
      .collect().map(_.getInt(0)).toSeq
    // per-list probe residuals → per-list ADC tables (nProbe·m·kPq rows)
    val prx = coarse
      .filter(col("cluster").isin(lists: _*))
      .join(broadcast(pv.select("dim", "px")), "dim")
      .select(col("cluster").as("list_id"),
        (col("dim") / subDim).cast("int").as("sub"),
        (col("dim") % subDim).cast("int").as("j"),
        (col("px") - col("c")).as("rx"))
    val table = prx
      .join(broadcast(residCentroids), Seq("sub", "j"))
      .groupBy("list_id", "sub", "cluster")
      .agg(sum((col("rx") - col("c")) * (col("rx") - col("c"))).as("pdist"))
    spark.read.schema(IvfPqCodesSchema).parquet(s"$path/codes")
      .filter(col("list_id").isin(lists: _*)) // -> parquet PartitionFilters
      .filter(col("id") =!= probeId)
      .join(broadcast(table), Seq("list_id", "sub", "cluster"))
      .groupBy(col("id").as("vec_id"))
      .agg(sum("pdist").as("dist_u"))
      .orderBy(col("dist_u"), col("vec_id"))
      .limit(topK)
  }
}
