package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Similarity search over embedding columns (SURVEY §2.6): brute-force
 * cosine top-k as the exact baseline, and a deterministic LSH-bucketed
 * variant as the scale path.
 *
 * Scale design: the brute-force path broadcasts the (tiny) probe vector and
 * scans the corpus once — O(n·d) map work, no shuffle, the right baseline
 * even at 100 TB when k is small (top-k via `orderBy…limit` runs as a
 * per-partition partial top-k + single reduce). The LSH path buckets
 * vectors by a short signature so a probe only scans its bucket —
 * trading recall for a ~2^bits scan reduction; bucket ids are also the
 * natural partitioning key for an IVF-style layout on disk.
 *
 * All arithmetic is promoted to double BEFORE multiplication and folded
 * sequentially (aggregate HOF) so results are deterministic and
 * reproducible across engines.
 */
object Similarity {

  /** Defend broadcast-expand operators (corpus × probes / corpus ×
    * centers) against an under-partitioned input: a small-SF corpus is
    * often ONE parquet file → one task carries the whole n×k expansion
    * serially (measured: the 100× k-means assignment pinned a single
    * core for 30+ min). Results everywhere are layout-free (spec-pinned),
    * so a round-robin respread never changes values. No-op when the
    * input already has enough splits — a well-partitioned cluster read
    * keeps its layout and pays no extra shuffle. */
  private def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= want) df else df.repartition(want)
  }

  /** Dot product — the native [[ArrayDot]] expression (bit-identical to
    * the HOF `aggregate(zip_with(...))` formulation it replaced; same
    * left-fold IEEE op sequence, no intermediate product array). */
  def dot(a: Column, b: Column): Column = ArrayDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two vector columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Brute-force cosine top-k: nearest `k` vectors to the probe row
   * (`probeId`), probe broadcast, self excluded.
   */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
                 probeId: Long, k: Int): DataFrame = {
    val probe = broadcast(
      df.filter(col(idCol) === probeId).select(col(vecCol).as("__probe")))
    df.crossJoin(probe)
      .filter(col(idCol) =!= probeId)
      .select(col(idCol), cosine(col(vecCol), col("__probe")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /**
   * Deterministic rank-LSH bucket id: `bits` sign comparisons between fixed
   * coordinate pairs (dim i vs dim i+offset). Cheap, data-independent, and
   * reproducible — the moral equivalent of random-hyperplane signs without
   * needing shared RNG state across engines/executors.
   */
  def rankLshBucket(vec: Column, bits: Int = 4, offset: Int = 32): Column =
    (0 until bits).map { i =>
      when(element_at(vec, i + 1) > element_at(vec, i + 1 + offset),
        lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _).cast("int")

  /**
   * LSH-bucketed ANN: probe scans only its own bucket, then exact cosine
   * rank within it. Returns top-k of the probe's bucket.
   */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              probeId: Long, k: Int): DataFrame = {
    val bucketed = df.withColumn("__bucket", rankLshBucket(col(vecCol)))
    val probe = broadcast(bucketed.filter(col(idCol) === probeId)
      .select(col(vecCol).as("__probe"), col("__bucket").as("__pbucket")))
    bucketed.join(probe, col("__bucket") === col("__pbucket"))
      .filter(col(idCol) =!= probeId)
      .select(col(idCol), cosine(col(vecCol), col("__probe")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  // ---- banded sign-LSH for near-dup pairs ------------------------------
  // Round-1 design was a single 4-bit signature = 16 global buckets, so the
  // bucket-local pair space was still O(n²/16) — a scale-killer. The banded
  // scheme below mirrors the MinHash path (Dedup.scala): `bands` independent
  // `bits`-bit sign signatures; a pair is a candidate iff it agrees on ALL
  // bits of at least ONE band. Bucket count per band is 2^bits, so the
  // candidate probability decays geometrically with angular distance and
  // the join shuffles (band, sig) keys, never the n² pair space.

  /**
   * Deterministic per-band comparison table: band `i`, bit `j` compares
   * dims (1-based) `p = ((j*bands + i) mod dims) + 1` vs `q = p + gap_i`
   * (wrapped). Distinct per-band gap keeps the bands' comparison sets
   * disjoint (no complementary-bit degeneracy); everything is
   * data-independent and engine-reproducible — the moral equivalent of
   * shared random hyperplanes without shared RNG state. The DuckDB oracle
   * SQL is generated from this same table.
   */
  def bandPairs(bands: Int, bits: Int, dims: Int): Seq[(Int, Seq[(Int, Int)])] = {
    val gaps = Seq(3, 5, 7, 11, 13, 19, 23, 29, 31, 37, 41, 43)
    (0 until bands).map { i =>
      i -> (0 until bits).map { j =>
        // when bits·bands > dims the base index wraps — advance the gap
        // per wrap so the repeated p gets a DIFFERENT comparison partner
        // (with a fixed gap, bit j and bit j + dims/bands would be the
        // same comparison and the extra bits would add no buckets);
        // wrap = 0 reproduces the original per-band gap exactly
        val wrap = (j * bands + i) / dims
        val g = gaps((i + wrap) % gaps.length)
        val p = (j * bands + i) % dims
        val q = (p + g) % dims
        (p + 1, q + 1)
      }
    }
  }

  /**
   * Signature width so the expected (band, sig) bucket occupancy stays
   * ~`targetBucket` as the corpus grows: `bits = log2(n / targetBucket)`,
   * clamped. With FIXED bits the occupancy — and the bucket-local
   * candidate pair space, which grows with its square — scales
   * quadratically in n: at 8 bits (256 buckets/band) a 200k-vector
   * corpus holds ~780 vectors per bucket ≈ 600M candidate pairs, enough
   * to OOM a 32 GiB heap, while 15 bits restores ~6 per bucket. The
   * same occupancy rule sizes the wide SimHash's 16-bit blocks.
   */
  def lshBitsFor(n: Long, targetBucket: Int = 8, minBits: Int = 8,
                 maxBits: Int = 20): Int = {
    // smallest b with 2^b * targetBucket >= n — pure integer arithmetic
    // (ceil(log2(x)) in floating point can misround at exact powers of
    // two, and the DuckDB oracle reproduces this rule with the same
    // integer comparisons, so the two engines cannot drift)
    var b = minBits
    while (b < maxBits && (targetBucket.toLong << b) < n) b += 1
    b
  }

  /** Array of (band, sig) structs for one vector — explode to LSH keys. */
  def bandSignatures(vec: Column, bands: Int, bits: Int, dims: Int): Column =
    array(bandPairs(bands, bits, dims).map { case (band, pairs) =>
      val sig = pairs.zipWithIndex.map { case ((p, q), j) =>
        when(element_at(vec, p) > element_at(vec, q), lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)
      struct(lit(band).as("band"), sig.cast("int").as("sig"))
    }: _*)

  /**
   * Embedding-cosine near-duplicate pairs, banded: explode each vector to
   * `bands` (band, sig) keys, self-join on the key (bucket-local pairs
   * only), distinct the candidate id pairs, then fetch vectors by id and
   * verify with exact cosine at `threshold`. Only (id, band, sig) rows —
   * not the vectors — travel through the candidate join, exactly like the
   * MinHash-LSH shape.
   */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, bands: Int = 8, bits: Int = 0,
                         dims: Int = 64): DataFrame = {
    // bits = 0 → auto-size from the corpus count ([[lshBitsFor]]): fixed
    // bits are a quadratic scale trap (the count() is a parquet
    // metadata-fast-path action, cheap next to the pair join it right-
    // sizes; ≤ 2048 vectors resolve to the min 8 bits, so small-corpus
    // results — and the DuckDB oracle at contract SFs — are unchanged)
    val rBits = if (bits > 0) bits else lshBitsFor(df.count())
    // norms computed once per vector (not once per pair); vectors join back
    // by id only for verified candidates
    val base = df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__norm"))
    val sig = df.select(col(idCol),
      explode(bandSignatures(col(vecCol), bands, rBits, dims)).as("__bs"))
    val cand = sig.as("x")
      .join(sig.as("y"),
        col("x.__bs") === col("y.__bs") && col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("vec_a"), col(s"y.$idCol").as("vec_b"))
      .distinct()
    cand
      .join(base.select(col(idCol).as("vec_a"), col(vecCol).as("__va"),
        col("__norm").as("__na")), "vec_a")
      .join(base.select(col(idCol).as("vec_b"), col(vecCol).as("__vb"),
        col("__norm").as("__nb")), "vec_b")
      .withColumn("cos",
        dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /**
   * Embedding near-duplicate CLUSTERS: connected components over the
   * banded-LSH cosine pair graph — the embedding-space analogue of
   * [[Dedup.nearDupClusters]] (which clusters by n-gram Jaccard). Every
   * vector maps to its component's minimum id; singletons map to
   * themselves. The pair generation is [[cosineNearDupPairs]] (bucketed
   * candidates, exact verify); the component labeling is
   * [[Dedup.connectedComponents]]'s bounded driver union-find with the
   * distributed min-label fallback — same 100 TB posture as the text path.
   *
   * Returns (idCol, cluster_id).
   */
  def embedClusters(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, bands: Int = 8, bits: Int = 0,
                    dims: Int = 64): DataFrame = {
    val pairs = cosineNearDupPairs(df, idCol, vecCol, threshold, bands,
      bits, dims)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val labels = Dedup.connectedComponents(pairs)
    df.select(col(idCol))
      .join(labels, col(idCol) === col("node"), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
  }

  /**
   * SemDeDup-style semantic deduplication within coarse-quantizer cells
   * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
   * through semantic deduplication" — public arXiv:2303.09540): pairs
   * form ONLY inside a cell (the label partition — the same cell key the
   * persisted IVF index partitions its inverted lists by), are scored by
   * exact cosine, thresholded at `tau`, collapsed to connected
   * components, and each component keeps its minimum id.
   *
   * Cell-bounded recall is the published method's explicit trade-off:
   * near-duplicates quantized into DIFFERENT cells are not compared
   * (the quantizer's job is to make that rare). In exchange the pair
   * space is Σ |cell|² instead of n² — with a quantizer sized so cells
   * stay bounded (K ∝ n / targetCellSize), per-cell work is constant and
   * cells process embarrassingly parallel; over a [[buildIvfIndex]]
   * layout each cell's pairs read one partition directory. Norms fold
   * once per vector ([[knnJoinWith]]'s device), so per-pair work is one
   * O(d) dot.
   *
   * Returns (idCol, cluster_id, keep) — `keep` marks the component
   * representative (singletons keep themselves).
   */
  def semDedupByCell(df: DataFrame, idCol: String, vecCol: String,
                     cellCol: String, tau: Double): DataFrame = {
    TopKAgg.requireIntegralId(df, idCol, "semDedupByCell")
    // one materialization feeds both pair sides (no cross-branch CSE)
    val base = df.select(col(idCol), col(cellCol).as("__cell"), col(vecCol),
      norm(col(vecCol)).as("__n")).localCheckpoint(false)
    semDedupCore(base, idCol, vecCol, tau)
  }

  /**
   * [[semDedupByCell]] over a persisted [[buildIvfIndex]] layout: the
   * inverted lists already carry per-vector norms and live PARTITIONED
   * BY CELL on disk, so each cell's pair scan reads exactly one
   * partition directory and nothing is recomputed — dedup becomes a
   * maintenance pass over the same index that serves ANN probes.
   * Results are identical to the inline form on the same corpus (shared
   * pair arithmetic; norms round-trip exactly through parquet doubles).
   */
  def semDedupIndexed(spark: SparkSession, path: String, idCol: String,
                      vecCol: String, tau: Double): DataFrame = {
    val lists = spark.read.parquet(s"$path/lists")
    TopKAgg.requireIntegralId(lists, idCol, "semDedupIndexed")
    semDedupCore(lists.select(col(idCol), col("__cellkey").as("__cell"),
      col(vecCol), col("__cn").as("__n")), idCol, vecCol, tau)
  }

  /** Shared semantic-dedup core over a (id, __cell, vec, __n) frame:
    * within-cell exact-cosine pairs ≥ tau → connected components →
    * (id, cluster_id, keep min-id representative). */
  private def semDedupCore(base: DataFrame, idCol: String, vecCol: String,
                           tau: Double): DataFrame = {
    val a = base.select(col(idCol).as("doc_a"), col("__cell").as("__ca"),
      col(vecCol).as("__va"), col("__n").as("__na"))
    val b = base.select(col(idCol).as("doc_b"), col("__cell").as("__cb"),
      col(vecCol).as("__vb"), col("__n").as("__nb"))
    // zero-norm vectors never pair: they are filtered BEFORE the join
    // (scan-level predicate) both because ANSI mode rejects the zero
    // divisor — on this Spark version DIVIDE_BY_ZERO throws for DOUBLE
    // division too, not just integral/decimal (Round7OpsSpec exercised
    // it) — and because Spark orders NaN above every value: were the
    // division to yield NaN, a NaN cosine
    // passing >= tau would glue the whole cell into one cluster. A CASE WHEN
    // guard on the pair path instead costs ~2× (it blocks the fused
    // join-condition shape), measured at sf0.1. The residual isnan
    // filter covers NaN ELEMENTS (NaN norm also orders above 0, so such
    // vectors survive the norm filter and must drop here).
    val pairs = a.filter(col("__na") > lit(0.0))
      .join(b.filter(col("__nb") > lit(0.0)),
        col("__ca") === col("__cb") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (dot(col("__va"), col("__vb")) /
          (col("__na") * col("__nb"))).as("__cos"))
      .filter(!isnan(col("__cos")) && col("__cos") >= tau)
      .select(col("doc_a"), col("doc_b"))
    val labels = Dedup.connectedComponents(pairs)
    base.select(col(idCol))
      .join(labels, col(idCol) === col("node"), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
      .withColumn("keep", col("cluster_id") === col(idCol))
  }

  /**
   * IVF-style ANN top-k: the coarse quantizer cells are the label
   * partitions, with cell centers = the deterministic per-label centroids
   * ([[centroidComponents]] — bit-reproducible, so engines agree on
   * every assignment). The probe ranks cell centers by exact cosine,
   * scans only the `nProbe` nearest cells' vectors (the inverted lists),
   * and returns the exact top-k within them.
   *
   * Scale shape: centers are tiny (labels × dims) and broadcast both
   * ways; the probe-side scan touches only nProbe/|cells| of the corpus —
   * the IVF complement of the hash-bucketed [[lshTopK]]. A label column
   * doubles as the natural partition/bucket key for the inverted lists
   * on disk.
   */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, labelCol: String,
              probeId: Long, k: Int, nProbe: Int = 2,
              dims: Int = 64): DataFrame = {
    val centers = cellCenters(df, labelCol, idCol, vecCol, dims)
    val probe = broadcast(
      df.filter(col(idCol) === probeId)
        .select(col(vecCol).as("__probe")))
    // nProbe nearest cells by exact cosine (deterministic tiebreak on label)
    val nearCells = broadcast(
      centers.crossJoin(probe)
        .select(col("__cell"),
          (dot(col("__center"), col("__probe")) /
            (norm(col("__center")) * norm(col("__probe")))).as("__ccos"))
        .orderBy(col("__ccos").desc, col("__cell"))
        .limit(nProbe)
        .select(col("__cell")))
    // exact top-k within the probed cells only
    df.join(nearCells, df(labelCol) === nearCells("__cell"))
      .crossJoin(probe)
      .filter(col(idCol) =!= probeId)
      .select(col(idCol), cosine(col(vecCol), col("__probe")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /**
   * Multi-probe IVF ANN join — [[ivfTopK]] generalized to a probe BATCH
   * (probe_id, __pv), the form a retrieval workload runs: for every probe,
   * rank the per-label cell centers by exact cosine, scan only its
   * `nProbe` nearest cells, return the exact top-k within them via the
   * bounded [[TopKAgg]].
   *
   * Scale shape: centers (labels × dims) and probes both broadcast; cell
   * ranking happens on their product — (labels × probes) rows, tiny — and
   * the corpus is scanned ONCE, each row joining only the probes that
   * probed its cell (a broadcast-hash join on the label). No corpus
   * shuffle, no per-group sort; NaN cosines (zero-norm vectors) are
   * excluded by TopKAgg's total order like every kNN path here.
   *
   * Returns (probe_id, rank, neighbor_id, cos) — self-matches excluded
   * (probes are corpus rows in this form).
   */
  def ivfKnnJoin(df: DataFrame, probes: DataFrame, idCol: String,
                 vecCol: String, labelCol: String, k: Int, nProbe: Int = 2,
                 dims: Int = 64): DataFrame = {
    TopKAgg.requireIntegralId(df, idCol, "ivfKnnJoin")
    val centers = cellCenters(df, labelCol, idCol, vecCol, dims)
    val probedCells = probedCellsFor(centers, probes, nProbe)
    // corpus norm once per row (before the probe join), not per pair —
    // same dot/(na·nb) bracketing as cosine(), bit-identical values
    val base = df.select(col(idCol), col(vecCol), col(labelCol),
      norm(col(vecCol)).as("__cn"))
    emitTopK(
      base.join(probedCells, base(labelCol) === probedCells("__cell"))
        .filter(col(idCol) =!= col("probe_id"))
        .select(col("probe_id"), col(idCol),
          (dot(col(vecCol), col("__pv")) /
            (col("__cn") * col("__pn"))).as("cos")),
      idCol, k)
  }

  /** nProbe nearest cells PER PROBE: a window over the broadcast-tiny
    * centers × probes product (deterministic tiebreak on the cell label).
    * Emits (probe_id, __pv, __cell, __pn) with the probe norm computed on
    * the pruned frame. Shared by the inline and index-backed probe paths
    * so the cell-selection policy exists exactly once. */
  private def probedCellsFor(centers: DataFrame, probes: DataFrame,
                             nProbe: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("__ccos").desc, col("__cell"))
    broadcast(
      centers.crossJoin(broadcast(probes))
        // when-guard + null/NaN filter: a degenerate cell (zero center —
        // e.g. kmeansLabels' -1 cell of zero-norm vectors) or zero-norm
        // probe has a zero divisor, which ANSI mode rejects even for
        // doubles; and a NaN cosine (NaN vector elements) would rank
        // FIRST under Spark's NaN-high DESC ordering, silently consuming
        // a probe slot
        .select(col("probe_id"), col("__pv"), col("__cell"),
          when(norm(col("__center")) * norm(col("__pv")) > 0.0,
            dot(col("__center"), col("__pv")) /
              (norm(col("__center")) * norm(col("__pv")))).as("__ccos"))
        .filter(col("__ccos").isNotNull && !isnan(col("__ccos")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= nProbe)
        .select(col("probe_id"), col("__pv"), col("__cell"),
          norm(col("__pv")).as("__pn")))
  }

  /**
   * Persist the IVF index for build-once / probe-many workloads: at
   * corpus scale the index is built once and probed thousands of times,
   * but [[ivfKnnJoin]] recomputes cell centers, assignments, and norms on
   * every query. This writes them down:
   *
   *  - `path/centers`: the coarse-quantizer cell centers (one row per
   *    cell — tiny, broadcast at probe time);
   *  - `path/lists`: the inverted lists — corpus rows with their
   *    precomputed norms, PARTITIONED BY CELL on disk (`__cellkey` = the
   *    label as a string directory key; the original label column
   *    survives inside the files so probe-time semantics are identical
   *    to the inline form). A probe then reads only its nProbe cells'
   *    files via parquet partition pruning instead of scanning the
   *    corpus.
   */
  def buildIvfIndex(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, path: String, dims: Int = 64,
                    deterministic: Boolean = false): Unit = {
    TopKAgg.requireIntegralId(df, idCol, "buildIvfIndex")
    val mark = stageTrace("ivf-build")
    // an IN-PLACE rebuild over an existing index is a mutation like any
    // other: the marker must be absent through every crash window (a
    // crash between the lists overwrite and the csums write would
    // otherwise leave NEW lists under an OLD-but-valid marker, and the
    // next monotone append would fold onto fold state that does not
    // cover the lists — silently wrong centers, stamped valid)
    deleteCsumsMarker(df.sparkSession, path)
    val listsFrame = df.select(col(idCol), col(vecCol), col(labelCol),
      norm(col(vecCol)).as("__cn"),
      col(labelCol).cast("string").as("__cellkey"))
    if (deterministic) {
      // DETERMINISTIC OPT-IN (round-15 verdict): the default path below
      // exists for non-deterministic frames (a sample, an uncheckpointed
      // limit) — it evaluates df exactly once (the lists write) and
      // derives csums/centers/maxId from a READ-BACK of what landed, so
      // the marker can never stamp valid over mismatched state. That
      // read-back serializes lists-write → read-back → csums-fold before
      // the three derived writes can start. A caller who KNOWS df
      // re-evaluates to the same row set (parquet scans, checkpointed
      // labels — every contract build) opts in here: csums/maxId derive
      // from the frame directly, so the lists write, the maxId/label
      // scan, and the fold→derived-writes chain all run concurrently —
      // one corpus-pass of wall clock instead of two, same bits by the
      // determinism premise (Round16OpsSpec pins lists/centers/csums/
      // marker identity against the default path). The width gate still
      // strictly precedes the centers/csums writes; a ragged corpus may
      // race the lists landing, but the marker is absent either way —
      // the ordinary crashed-build shape every repair converges from.
      val landed = df.select(col(idCol), col(vecCol), col(labelCol))
      var maxIdLanded: Option[Long] = None
      inParallel(
        () => listsFrame.write.mode("overwrite").partitionBy("__cellkey")
          .parquet(s"$path/lists"),
        () => { maxIdLanded = maxIdOf(landed, idCol, labelCol,
          "buildIvfIndex") },
        () => {
          val cs = csumsOf(landed, labelCol, idCol, vecCol, dims)
            .localCheckpoint()
          mark("csums-fold")
          requireFixedWidth(cs, dims, "buildIvfIndex")
          inParallel(
            () => centersFromCsums(cs, labelCol).repartition(1)
              .write.mode("overwrite").parquet(s"$path/centers"),
            () => writeCsums(cs, labelCol, s"$path/csums"))
        })
      mark("derived-writes")
      writeCsumsMarker(df.sparkSession, path,
        maxIdLanded.getOrElse(Long.MinValue), dims)
      mark("marker")
      return
    }
    // ONE evaluation of the caller's frame — the lists write — and every
    // derived table (csums, centers, marker) computed from what LANDED:
    // a non-deterministic df (a sample, an uncheckpointed limit) would
    // otherwise persist one row set to lists while the csums fold (and
    // the marker's maxId) saw others, stamping a valid marker over
    // mismatched state. The ingest epoch uses the same
    // read-back-what-landed device; checkpointing the whole corpus
    // instead would double its storage footprint at build time.
    listsFrame
      .write.mode("overwrite").partitionBy("__cellkey")
      .parquet(s"$path/lists")
    mark("lists-write")
    // a ZERO-ROW build leaves a data-less lists dir (only _SUCCESS) that
    // schema inference cannot read back — derive the empty `landed` from
    // the caller's frame instead (limit 0: schema only, no scan), so the
    // degenerate build completes like the old inline-centers path did:
    // empty-but-readable centers, no csums data (hasCsumsData gates the
    // consumers), and a Long.MinValue marker so the first real append
    // converges via the fallback rebuild
    val empty = !hasParquetData(df.sparkSession, s"$path/lists")
    val landed =
      if (empty) df.select(col(idCol), col(vecCol), col(labelCol)).limit(0)
      else df.sparkSession.read.parquet(s"$path/lists")
        .select(col(idCol), col(vecCol), col(labelCol))
    // csums computed ONCE and checkpointed: it feeds both the centers
    // derivation and the csums write, and its arithmetic is the
    // identical id-ordered left fold cellCenters ran inline — so centers
    // bits are unchanged by the derivation-through-csums (Round12OpsSpec
    // pins the parity)
    val cs = csumsOf(landed, labelCol, idCol, vecCol, dims)
      .localCheckpoint()
    mark("csums-fold")
    // the three post-checkpoint jobs — centers derive+write, csums
    // write, and the marker's maxId scan — are independent reads of
    // already-materialized state, so they run concurrently
    // ([[inParallel]]): serial they billed the build ~1.4 s of pure
    // job-dispatch latency. The width gate stays ORDERED before the
    // centers derivation (a ragged corpus must fail before a poisoned
    // centers table can land), and the marker is written strictly
    // after every side returns. A width failure can still race the
    // csums write landing — the marker is absent either way, so the
    // state is the ordinary crashed-build shape every repair converges
    // from.
    var maxIdLanded: Option[Long] = None
    inParallel(
      () => {
        requireFixedWidth(cs, dims, "buildIvfIndex")
        // ONE file always: centers are K broadcast-sized rows, and a
        // shuffle-partitioned layout (up to 32 small files) made the
        // auto probe's footer-based row count pay ~0.2 s of per-file
        // opens on every call — a metadata table's layout is one
        // footer. (The empty build needed repartition(1) anyway for a
        // schema-carrying file.)
        centersFromCsums(cs, labelCol).repartition(1)
          .write.mode("overwrite").parquet(s"$path/centers")
      },
      () => writeCsums(cs, labelCol, s"$path/csums"),
      () => { maxIdLanded = maxIdOf(landed, idCol, labelCol,
        "buildIvfIndex") })
    mark("derived-writes")
    writeCsumsMarker(df.sparkSession, path,
      maxIdLanded.getOrElse(Long.MinValue), dims)
    mark("marker")
  }

  /**
   * APPEND a batch to a persisted [[buildIvfIndex]] — incremental
   * maintenance for the ingest path: the inverted lists (the corpus-sized
   * bulk, 59.9 s to rebuild at 100×) take only the batch's own rows,
   * appended into their cells' partitions; then the cell centers (the
   * tiny table) refresh.
   *
   * The refresh is O(batch), not O(corpus), on the PRODUCTION ingest
   * shape — monotonically increasing ids (new documents get new ids):
   * the index stores the per-(cell, chunk) centroid fold state (`csums`
   * — each chunk's id-ordered left-fold partial sums + count), and a
   * batch whose min id exceeds the indexed max id extends every chunk's
   * fold AT ITS TAIL, so continuing the left fold from the stored
   * partial replays the IDENTICAL IEEE addition sequence a from-scratch
   * recompute would run — bit-identity with the full rebuild holds by
   * construction, not by tolerance (Round12OpsSpec). Cost: the batch's
   * own partials, a join against the touched cells' csums partitions
   * (≤ min(1024, cell rows) rows per touched cell — bounded by the
   * chunk constant, not the corpus), a dynamic overwrite of exactly
   * those partitions, and the (cells × chunks)-bounded centers fold.
   *
   * A batch with interleaved ids (or a legacy index with no csums, or a
   * dims mismatch) falls back to [[rebuildIvfCsums]] — the full
   * id-ordered recompute from the lists, same bits as a rebuild — which
   * also (re)creates the csums so the NEXT monotone append is fast.
   * Returns true when the incremental path ran, false on fallback.
   *
   * Crash contract: the csums validity marker is deleted FIRST, before
   * any mutation, and rewritten LAST, after csums and centers agree —
   * so every crash window leaves the marker absent and the next append
   * (or [[rebuildIvfCsums]]) falls back to the full recompute; stale
   * csums are never trusted. A crash between the lists append and the
   * centers write leaves stale centers (probe-correct per the OLD
   * quantizer geometry) — [[refreshIvfCenters]] or [[rebuildIvfCsums]]
   * converges. Same single-writer discipline as the dedup index.
   * Index contract: unique integral ids, vectors ≥ `dims` wide.
   *
   * The variant comes from the batch and the index ([[ivfLayout]]):
   *  - a batch WITHOUT `labelCol` is labeled against the stored centers
   *    ([[assignToCenters]]: one batch × broadcast(K) step, no retrain),
   *    bit-identical to labeling the grown corpus against the same
   *    frozen centers and rebuilding (Round8OpsSpec);
   *  - with a PQ sidecar (`pq/`), the batch's codes are encoded
   *    ([[pqCodesOf]]) and land beside their cells under deterministic
   *    per-(cell, batch) names, so a crashed retry replaces rather than
   *    duplicates; the pq marker is deleted before the lists move and
   *    re-stamped last, so every crash window leaves probes refusing;
   *  - a streamed (epoch-layout) index is refused before anything lands.
   */
  def appendToIvfIndex(spark: SparkSession, path: String, batch0: DataFrame,
                       idCol: String, vecCol: String, labelCol: String,
                       dims: Int = 64): Boolean = {
    TopKAgg.requireIntegralId(batch0, idCol, "appendToIvfIndex")
    val pq = ivfLayout(spark, path, labelCol, dims, epochs = false,
      "appendToIvfIndex")
    // ONE evaluation of the caller's frame: the bounds aggregate, the
    // lists write, and the csums delta would otherwise each re-evaluate
    // it — a non-deterministic batch (a sample, an uncheckpointed limit)
    // could then write one row set to lists and fold ANOTHER into csums
    // while stamping the marker valid. An append batch is ingest-sized,
    // so the eager checkpoint is cheap insurance. It also makes the
    // assignment safe: its lineage reads `centers`, which the fold
    // below replaces.
    val batch = (
      if (batch0.columns.contains(labelCol))
        batch0.select(col(idCol), col(vecCol), col(labelCol))
      else batch0.select(col(idCol), col(vecCol)).join(
        assignToCenters(spark, path, batch0, idCol, vecCol)
          .withColumnRenamed("cell", labelCol), Seq(idCol))
      ).localCheckpoint()
    val marker = readCsumsMarker(spark, path)
    val stats = csumsBatchStats(batch, idCol, vecCol, labelCol, dims,
      "appendToIvfIndex")
    if (stats.isEmpty) return true // empty batch: index unchanged
    val Some((bMin, bMax, cells, _)) = stats
    // hasCsumsData guards the degenerate empty index (a build over zero
    // rows writes a data-less csums dir whose read would crash schema
    // inference): no stored fold state → take the fallback, which
    // rebuilds from the lists (now holding this batch) and converges
    val fast = marker.exists { case (maxId, d, _, _) =>
      d == dims && bMin > maxId } && hasCsumsData(spark, path)
    // opt-in stage trace (SPARK_GRAFT_IVF_TIMINGS=1): the append is many
    // small actions whose individual costs are invisible in the probe
    // artifact's single number — this names the heavy one when tuning
    val mark = stageTrace("ivf-append")
    deleteCsumsMarker(spark, path) // FIRST: no crash window trusts stale csums
    if (pq.isDefined) deletePqMarker(spark, path)
    // STAGED append, not mode("append"): a path-based partitioned append
    // resolves the EXISTING table first — full partition discovery over
    // all K cell dirs, the dominant term of the whole append at K = 1000
    // (traced 3.1s of 7.7s). Writing the batch to a fresh staging dir
    // and renaming its files into the live cell dirs skips the
    // resolution entirely; rename-per-file has the same crash contract
    // mode("append")'s multi-step job commit had (single-writer, a
    // crashed half-append leaves the marker deleted → fallback rebuild).
    // repartition by cell: a small batch frame is often ONE partition,
    // and a single task initializing ~touched-cells parquet writers
    // serially was the append's dominant term (traced 3.3s of 7.7 at
    // 200 touched cells — writer init is ~15ms each); spread across
    // tasks it is wall-parallel
    // EXPLICIT partition count: repartition(col) alone gets AQE-coalesced
    // back to one task for a tiny batch, reserializing the writer inits
    val spreadN = math.max(1, math.min(cells.size,
      spark.sparkContext.defaultParallelism))
    stagedPartitionedWrite(spark, s"$path/lists",
      batch.select(col(idCol), col(vecCol), col(labelCol),
        norm(col(vecCol)).as("__cn"),
        col(labelCol).cast("string").as("__cellkey"))
        .repartition(spreadN, col("__cellkey")),
      replaceDirs = false, batchTag = Some(s"$bMin-$bMax"))
    mark("lists-append")
    if (fast)
      foldCsumsDelta(spark, path, batch, cells, idCol, vecCol, labelCol,
        dims, spreadN, bMax, epoch = None, epochHash = None, mark)
    else rebuildIvfCsums(spark, path, idCol, vecCol, labelCol, dims)
    pq.foreach { sc =>
      // pqCodesOf partitions by cell key, one file per cell per task
      stagedPartitionedWrite(spark, s"$path/pq/codes",
        pqCodesOf(spark, path, batch, idCol, vecCol, labelCol, sc),
        replaceDirs = false, batchTag = Some(s"pq-$bMin-$bMax"))
      restampPqMarker(spark, path, sc)
    }
    fast
  }

  /** The incremental csums fold — [[appendToIvfIndex]]'s fast branch,
    * shared with the streaming epoch refresh: continue the touched
    * cells' stored left folds with the (monotone-id) batch's values,
    * rewrite exactly those cells' csums partitions, re-derive only
    * their centers (untouched cells' stored rows are bit-identical to a
    * re-derivation), and stamp the marker LAST. Caller contract: the
    * marker is already deleted, the batch is checkpointed and
    * validated ([[csumsBatchStats]]), and its min id exceeds the
    * indexed max. */
  private def foldCsumsDelta(spark: SparkSession, path: String,
                             batch: DataFrame, cells: Seq[String],
                             idCol: String, vecCol: String,
                             labelCol: String, dims: Int, spreadN: Int,
                             bMax: Long, epoch: Option[Long],
                             epochHash: Option[Long],
                             mark: String => Unit): Unit = {
    val delta = csumKvsOf(batch, labelCol, idCol, vecCol, dims)
    // touched cells only, read as EXPLICIT subdirectories: an isin
    // partition filter still pays full
    // partition DISCOVERY over all K cell dirs, which at K ∝ n is the
    // corpus-proportional term this path exists to avoid (measured:
    // the 1000-dir listing dominated the append at 100x)
    val old = readCsumsCells(spark, path, cells, delta, labelCol)
    // continue each chunk's left fold from the stored partial: the
    // delta's kvs re-fold element-by-element onto the old psums (NOT
    // old + deltaSum — that would re-bracket the float additions)
    val merged = old
      .join(delta, Seq(labelCol, "__chunk"), "full_outer")
      .select(col(labelCol), col("__chunk"),
        foldKvs(coalesce(col("__kvs"), emptyKvs),
          coalesce(col("__opsums"), zeroPsums(dims))).as("__psums"),
        (coalesce(col("__on"), lit(0L)) +
          coalesce(col("__bn"), lit(0L))).as("__n"),
        col("__minw"))
      .localCheckpoint() // eager: reads csums before overwriting them
    mark("csums-merge")
    requireFixedWidth(merged, dims, "foldCsumsDelta")
    // centers rewrite is O(touched cells) too: an untouched cell's fold
    // state did not move, so its STORED center row is bit-identical to
    // what a full re-derivation would produce (doubles round-trip
    // parquet exactly) — re-derive only the touched cells from the
    // merged csums (already in memory) and union the rest back in.
    // Without this the derivation re-explodes the whole csums table,
    // which at K ∝ n is corpus-sized (measured 10s of the 12s append
    // at 100x with 4,000 cells).
    val touchedCenters = centersFromCsums(
      merged.select(col(labelCol), col("__chunk"), col("__psums"),
        col("__n")), labelCol)
    // ONE job: the union (which reads the live centers) lands in a tmp
    // dir, then swaps in — a checkpoint-then-overwrite costs a second
    // job, and overwrite's delete-then-write window leaves a silently
    // PARTIAL table where the swap's worst case is loudly missing
    // (marker already deleted → any repair converges). A live centers
    // table with NO data files (a torn overwrite from the pre-csums
    // refresh, an interrupted swap) cannot seed the union — derive the
    // FULL table from the freshly-merged csums instead: the fold state
    // is the authority the marker actually certifies, the centers are
    // derived. O(csums) on this repair path only.
    //
    // The csums staged write and the centers swap both read only the
    // checkpointed `merged` plus disk state the OTHER side never
    // touches (the swap's repair branch reads the UNtouched cells'
    // csums dirs; the staged write replaces only the touched cells'),
    // so they run concurrently ([[inParallel]]) — serial they billed
    // every append ~1 s of job-dispatch latency. Marker still LAST.
    inParallel(
      () => {
        // same staged-rename device as the lists append (a dynamic
        // partition overwrite resolves the whole csums tree too); here
        // the touched cells' dirs are REPLACED — the merged rows
        // supersede the old fold state
        stagedPartitionedWrite(spark, s"$path/csums",
          merged.drop("__minw")
            .withColumn("__cellkey", col(labelCol).cast("string"))
            .repartition(spreadN, col("__cellkey")),
          replaceDirs = true)
        mark("csums-write")
      },
      () => {
        swapCenters(spark, path,
          if (hasParquetData(spark, s"$path/centers"))
            spark.read.parquet(s"$path/centers")
              .filter(!col("__cell").cast("string")
                .isin(cells.toIndexedSeq: _*))
              .unionByName(touchedCenters)
          else {
            val touchedCs = merged.select(col(labelCol), col("__chunk"),
              col("__psums"), col("__n"))
            centersFromCsums(
              readUntouchedCsums(spark, path, cells, labelCol)
                .fold(touchedCs)(touchedCs.unionByName(_)),
              labelCol)
          })
        mark("centers")
      })
    writeCsumsMarker(spark, path, bMax, dims, epoch, epochHash)
  }

  /** Land a centers frame in a tmp dir and swap it live (one job, no
    * read-overwrite hazard even when the frame's lineage reads the live
    * table; worst crash case = loudly missing, never silently partial). */
  private def swapCenters(spark: SparkSession, path: String,
                          centers: DataFrame): Unit = {
    val cTmp = s"$path/centers.__swap_tmp"
    val cfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    cfs.delete(new org.apache.hadoop.fs.Path(cTmp), true)
    centers.repartition(1).write.parquet(cTmp) // one footer, see buildIvfIndex
    cfs.delete(new org.apache.hadoop.fs.Path(s"$path/centers"), true)
    require(cfs.rename(new org.apache.hadoop.fs.Path(cTmp),
      new org.apache.hadoop.fs.Path(s"$path/centers")),
      s"centers swap rename failed under $path")
  }

  /** Validated batch stats for the csums maintenance paths — (min id,
    * max id, touched cell keys, row-set hash), or None for an empty
    * batch. ONE job, run BEFORE any caller mutation: a ragged or
    * null/empty-labeled batch must fail while the index is still
    * untouched (validating after a write lands would leave the bad rows
    * persisted, poisoning every later rebuild; empty-string labels are
    * rejected with nulls because Spark writes both as
    * __HIVE_DEFAULT_PARTITION__, so neither round-trips as a cell key).
    * The set hash — an order-independent XOR of per-row xxhash64 over
    * (id, vec, label) — is the replay-identity the streaming marker
    * records: a reused epoch id whose rows merely share the old max id
    * no longer passes for a genuine crash replay. */
  private[graft] def csumsBatchStats(batch: DataFrame, idCol: String,
                                     vecCol: String, labelCol: String,
                                     dims: Int, op: String)
      : Option[(Long, Long, Seq[String], Long)] = {
    val bounds = batch.agg(min(col(idCol).cast("long")),
      max(col(idCol).cast("long")),
      collect_set(col(labelCol).cast("string")),
      min(when(col(vecCol).isNotNull,
        size(slice(col(vecCol), 1, dims)))),
      count(when(col(labelCol).isNull ||
        col(labelCol).cast("string") === "", lit(1))),
      expr(s"bit_xor(xxhash64(cast(`$idCol` as long), `$vecCol`, " +
        s"cast(`$labelCol` as string)))")).head()
    if (bounds.isNullAt(0)) return None
    require(bounds.isNullAt(3) || bounds.getInt(3) >= dims,
      s"$op: IVF index requires fixed-width vectors with >= $dims " +
        s"elements, batch has one with ${bounds.getInt(3)}")
    require(bounds.getLong(4) == 0L,
      s"$op: null/empty labels are not indexable (the label is the " +
        "cell partition key)")
    Some((bounds.getLong(0), bounds.getLong(1),
      bounds.getSeq[String](2), bounds.getLong(5)))
  }

  /** Recompute `path/centers` from the on-disk inverted lists — the
    * light crash repair (centers only; the csums marker, if the crash
    * was mid-append, is already gone, so stale csums stay untrusted and
    * the next append rebuilds them). The new centers are materialized
    * (eager localCheckpoint) before the overwrite since they are derived
    * from the same index root. Idempotent on a clean index. */
  def refreshIvfCenters(spark: SparkSession, path: String, idCol: String,
                        vecCol: String, labelCol: String,
                        dims: Int = 64): Unit = {
    val lists = spark.read.parquet(s"$path/lists")
      .select(col(idCol), col(vecCol), col(labelCol))
    cellCenters(lists, labelCol, idCol, vecCol, dims)
      .localCheckpoint() // eager: reads under path before overwriting it
      .repartition(1) // one footer, see buildIvfIndex
      .write.mode("overwrite").parquet(s"$path/centers")
  }

  /** Full recompute of csums AND centers from the on-disk lists — the
    * heavy repair and the append fallback: one column-pruned O(n·d) scan
    * folding every chunk from scratch in id order (the same bits a fresh
    * [[buildIvfIndex]] over the grown corpus produces), then centers
    * derived from the rebuilt csums and the validity marker rewritten
    * LAST, so the next monotone append takes the incremental path. */
  def rebuildIvfCsums(spark: SparkSession, path: String, idCol: String,
                      vecCol: String, labelCol: String, dims: Int = 64,
                      epoch: Option[Long] = None,
                      epochHash: Option[Long] = None): Unit = {
    deleteCsumsMarker(spark, path)
    // works on BOTH index layouts: the fold state is a function of the
    // row SET, so the epoch-partitioned streaming lists read the same
    // (the partition columns are dropped by the select)
    val lists = spark.read.parquet(s"$path/lists")
      .select(col(idCol), col(vecCol), col(labelCol))
    val cs = csumsOf(lists, labelCol, idCol, vecCol, dims)
      .localCheckpoint() // eager: reads under path before overwriting it
    requireFixedWidth(cs, dims, "rebuildIvfCsums")
    // independent post-checkpoint jobs run concurrently (see
    // buildIvfIndex); marker strictly after all three return
    var maxIdLists: Option[Long] = None
    inParallel(
      () => writeCsums(cs, labelCol, s"$path/csums"),
      () => centersFromCsums(cs, labelCol)
        .repartition(1) // one footer, see buildIvfIndex
        .write.mode("overwrite").parquet(s"$path/centers"),
      () => { maxIdLists = maxIdOf(lists, idCol, labelCol,
        "rebuildIvfCsums") })
    writeCsumsMarker(spark, path,
      maxIdLists.getOrElse(Long.MinValue), dims, epoch, epochHash)
  }

  /**
   * Per-micro-batch csums maintenance for the STREAMING ingest
   * ([[graft.streaming.StreamOps.ivfIngestTo]]): the batch twin's
   * incremental fold, made replay-safe. The marker's epoch field records
   * the last folded micro-batch; a crash-REPLAYED epoch (same batchId)
   * is recognized as already folded — its lists partition was rewritten
   * with bit-identical rows (the foreachBatch replay-determinism model
   * the state machinery already leans on), so only the centers are
   * re-derived in case the crash hit between the csums and centers
   * writes. A monotone-id batch folds incrementally (O(batch), not
   * O(corpus) — the streaming refresh was the ingest path's last
   * corpus-proportional per-epoch term); anything else (interleaved
   * ids, legacy state, dims drift) rebuilds from the lists, which is
   * exactly the pre-round-12 per-epoch cost. Returns the path taken:
   * 0 = incremental fold, 1 = replay skip / empty batch, 2 = rebuild.
   */
  private[graft] def streamingCsumsRefresh(spark: SparkSession,
                                           path: String, batch: DataFrame,
                                           batchId: Long, idCol: String,
                                           vecCol: String, labelCol: String,
                                           dims: Int,
                                           epochExisted: Boolean): Int = {
    val stats = csumsBatchStats(batch, idCol, vecCol, labelCol, dims,
      "streamingCsumsRefresh")
    if (stats.isEmpty) return 1 // empty epoch: fold state unchanged
    val Some((bMin, bMax, cells, bHash)) = stats
    readCsumsMarker(spark, path) match {
      case Some((maxId, d, Some(e), Some(h)))
          if e == batchId && maxId == bMax && h == bHash && d == dims &&
            hasCsumsData(spark, path) =>
        // replay of the already-folded epoch: csums cover its rows;
        // re-derive the centers only (cheap for bounded cell counts;
        // the replay path is rare — one per crash). The identity
        // cross-check — max id AND the XOR row-set hash the first fold
        // stamped — tells a genuine replay from a FRESH stream reusing
        // an old epoch id with new rows (even one engineered to share
        // the old max id); those fall through to the rebuild below,
        // never to a skip over dropped or substituted rows. A legacy
        // hashless marker also rebuilds (no Some(h) to match).
        swapCenters(spark, path, centersFromCsums(
          spark.read.parquet(s"$path/csums")
            .select(col(labelCol), col("__chunk"), col("__psums"),
              col("__n")), labelCol))
        1
      case Some((maxId, d, _, _))
          if !epochExisted && d == dims && bMin > maxId &&
            hasCsumsData(spark, path) =>
        // the fold requires this epoch's rows to be NEW in every sense:
        // monotone ids AND a fresh epoch partition (an overwrite of an
        // existing one dropped its old rows from the lists — only a
        // rebuild can reconcile the fold state with that)
        deleteCsumsMarker(spark, path)
        val spreadN = math.max(1, math.min(cells.size,
          spark.sparkContext.defaultParallelism))
        foldCsumsDelta(spark, path, batch, cells, idCol, vecCol, labelCol,
          dims, spreadN, bMax, epoch = Some(batchId),
          epochHash = Some(bHash), stageTrace("ivf-ingest"))
        0
      case _ =>
        rebuildIvfCsums(spark, path, idCol, vecCol, labelCol, dims,
          epoch = Some(batchId), epochHash = Some(bHash))
        2
    }
  }

  // ---- csums: the persisted centroid fold state -----------------------

  /** Per-(label, chunk) id-sorted (id, vector) lists of a labeled vector
    * frame — the UNFOLDED centroid fold input: `__kvs`, `__bn` (vector
    * count) and `__minw` (min sliced width, for the fixed-width guard).
    * Null vectors are excluded exactly as [[centroidComponents]]'
    * posexplode skips them. The append path consumes this directly (it
    * folds the kvs onto the STORED partials); [[csumsOf]] folds from
    * zero. */
  private def csumKvsOf(df: DataFrame, labelCol: String, idCol: String,
                        vecCol: String, dims: Int): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(labelCol), col(idCol).cast("long").as("__k"),
        transform(slice(col(vecCol), 1, dims),
          v => v.cast("double")).as("__v"),
        pmod(Md5Prefix28(col(idCol).cast("string")), lit(1024L))
          .as("__chunk"))
      .groupBy(col(labelCol), col("__chunk"))
      .agg(sort_array(collect_list(struct(col("__k"), col("__v"))))
          .as("__kvs"),
        count(lit(1)).as("__bn"),
        min(size(col("__v"))).as("__minw"))

  /** Per-(label, chunk) centroid fold state: `__psums` (per-position
    * id-ordered left-fold partial sums), `__n`, `__minw`. Elements fold
    * in the identical order and double promotion as the inline
    * [[centroidComponents]], so per position the IEEE addition sequence
    * matches bit-for-bit (fixed-width inputs; [[requireFixedWidth]]
    * guards). */
  private def csumsOf(df: DataFrame, labelCol: String, idCol: String,
                      vecCol: String, dims: Int): DataFrame =
    csumKvsOf(df, labelCol, idCol, vecCol, dims)
      .select(col(labelCol), col("__chunk"),
        foldKvs(col("__kvs"), zeroPsums(dims)).as("__psums"),
        col("__bn").as("__n"), col("__minw"))

  /** Continue the per-position left fold over an id-sorted (id, vector)
    * list from an initial partial-sums array — element order and double
    * promotion identical to [[centroidComponents]]' scalar fold. */
  private def foldKvs(kvs: Column, init: Column): Column =
    aggregate(kvs, init,
      (acc, e) => zip_with(acc, e.getField("__v"), (a, b) => a + b))

  private def zeroPsums(dims: Int): Column =
    array_repeat(lit(0.0), dims)

  private val emptyKvs: Column =
    array().cast("array<struct<__k:bigint,__v:array<double>>>")

  /** csums → (__cell, __center): per label, fold the per-chunk partial-
    * sums ARRAYS in chunk-ASC order and divide by the total count —
    * per position this runs the IDENTICAL chunk-ordered outer fold
    * (`acc + p` from 0.0, then `/ n` with the same long→double cast)
    * the inline [[centroidComponents]]/[[cellCenters]] pipeline runs,
    * so a centers table derived from csums is bit-identical to one
    * computed inline over the same row set (Round12OpsSpec pins it;
    * CentroidParitySpec pins the array-vs-scalar forms directly). The
    * array shape moves 1/dims the rows through the shuffle+aggregate
    * machinery that the former posexplode form paid — at bench scale
    * that machinery, not the arithmetic, was the cost. */
  private def centersFromCsums(csums: DataFrame,
                               labelCol: String): DataFrame =
    csums
      .groupBy(col(labelCol))
      .agg(sort_array(collect_list(struct(col("__chunk").as("c"),
          col("__psums").as("p")))).as("ps"),
        sum(col("__n")).as("n"))
      .select(col(labelCol).as("__cell"),
        transform(
          aggregate(col("ps"),
            array_repeat(lit(0.0),
              size(element_at(col("ps"), 1).getField("p"))),
            (acc, e) => zip_with(acc, e.getField("p"), (a, b) => a + b)),
          x => x / col("n")).as("__center"))

  /** The IVF index's fixed-width contract, enforced loudly: the csums
    * array fold requires every vector to carry ≥ dims elements (a short
    * vector would null-pad the zip_with and silently poison tail
    * positions where the inline per-position fold would just count
    * fewer values). */
  private def requireFixedWidth(cs: DataFrame, dims: Int,
                                op: String): Unit = {
    val mw = cs.agg(min(col("__minw"))).head()
    require(mw.isNullAt(0) || mw.getInt(0) >= dims,
      s"$op: IVF index requires fixed-width vectors with >= $dims " +
        s"elements, found one with ${mw.getInt(0)}")
  }

  /** Run independent index-maintenance jobs concurrently: local-mode
    * (and cluster) Spark schedules jobs submitted from separate threads
    * in parallel, and the sides here are single jobs over an
    * already-checkpointed tiny frame — serializing them billed each
    * build/append ~0.1–0.7 s of pure job-dispatch latency per side
    * (round 15: the five IVF build/append contract rows regressed ~2×
    * on exactly this fixed cost). Crash contract unchanged: the caller
    * writes the validity marker only AFTER every side returns, so any
    * failure — including one side failing while another lands — leaves
    * the marker absent and the next operation falls back to the full
    * rebuild. Both sides are awaited even when one fails (a torn
    * concurrent write must not outlive the caller's error handling);
    * the first failure then propagates. */
  private[graft] def inParallel(sides: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = sides.map(s => Future(s()))
    val rs = fs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    rs.foreach(_.get)
  }

  /** Env-gated stage stopwatch (`SPARK_GRAFT_IVF_TIMINGS=1`): returns a
    * mark function printing elapsed-since-last-mark per named stage —
    * a no-op closure when the flag is off. */
  private def stageTrace(prefix: String): String => Unit =
    if (!sys.env.get("SPARK_GRAFT_IVF_TIMINGS").contains("1")) _ => ()
    else {
      var t0 = System.nanoTime()
      stage => {
        val t1 = System.nanoTime()
        System.err.println(f"[$prefix] $stage ${(t1 - t0) / 1e9}%.2fs")
        t0 = t1
      }
    }

  /** Write a csums frame under `dir`, one file per cell partition.
    * `dynamic = true` overwrites ONLY the partitions present in the
    * frame (the append path's touched cells); the default replaces the
    * whole table (build/rebuild). */
  private def writeCsums(cs: DataFrame, labelCol: String, dir: String,
                         dynamic: Boolean = false): Unit = {
    // EXPLICIT partition count, like the append's lists write: a
    // key-only repartition over a tiny csums frame gets AQE-coalesced
    // to one task, serializing the per-cell parquet writer inits
    // (~15 ms each — the dominant term at K cells)
    val spreadN = math.max(1, cs.sparkSession.sparkContext
      .defaultParallelism)
    val keyed = cs.drop("__minw")
      .withColumn("__cellkey", col(labelCol).cast("string"))
      .repartition(spreadN, col("__cellkey"))
    val w = keyed.write.mode("overwrite").partitionBy("__cellkey")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .parquet(dir)
  }

  /** Column-pruned max id of a frame, None when empty — the same pass
    * also rejects null labels loudly (the label is the cell partition
    * key; a null key would vanish from the touched-cell pruning's
    * three-valued isin and silently drop its center row). */
  private def maxIdOf(df: DataFrame, idCol: String, labelCol: String,
                      op: String): Option[Long] = {
    val r = df.agg(max(col(idCol).cast("long")),
      count(when(col(labelCol).isNull ||
        col(labelCol).cast("string") === "", lit(1)))).head()
    require(r.getLong(1) == 0L,
      s"$op: null/empty labels are not indexable (the label is the " +
        "cell partition key)")
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** The csums root's cell partition dirs, filtered by the ESCAPED dir
    * names of `cells` (Spark escapes partition values in dir names — an
    * unescaped comparison would read a special-charactered label's
    * ("a/b", "a:b") stored fold state as ABSENT). `include = true`
    * keeps the named cells' dirs (the fast-path read); false keeps the
    * rest (the torn-centers repair's untouched side). ONE shared
    * definition so the two readers can never disagree on escaping. */
  private def csumsCellDirs(spark: SparkSession, path: String,
                            cells: Seq[String], include: Boolean)
      : Seq[org.apache.hadoop.fs.Path] = {
    val root = new org.apache.hadoop.fs.Path(s"$path/csums")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val named = cells.map(c => "__cellkey=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(c)).toSet
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("__cellkey=") &&
        named.contains(p.getName) == include)
  }

  /** The touched cells' csums rows as (labelCol, __chunk, __opsums,
    * __on), reading ONLY those cells' partition directories (one root
    * listing, then explicit subdir paths — never a full partition
    * discovery over all K cell dirs). Cells with no directory yet (new
    * cells) simply contribute no rows; when NO touched cell has a dir,
    * an empty frame with the join schema is derived from the delta.
    * Cell keys are labels cast to string and matched against the
    * ESCAPED dir names Spark writes, so special-charactered labels
    * resolve correctly. */
  private def readCsumsCells(spark: SparkSession, path: String,
                             cells: Seq[String], delta: DataFrame,
                             labelCol: String): DataFrame = {
    val dirs = csumsCellDirs(spark, path, cells, include = true)
    if (dirs.isEmpty)
      delta.select(col(labelCol), col("__chunk"))
        .limit(0)
        .withColumn("__opsums", lit(null).cast("array<double>"))
        .withColumn("__on", lit(null).cast("long"))
    else spark.read.option("basePath", s"$path/csums")
      .parquet(dirs.map(_.toString): _*)
      .select(col(labelCol), col("__chunk"),
        col("__psums").as("__opsums"), col("__n").as("__on"))
  }

  /** Write `df` (carrying a `__cellkey` partition column) into the
    * `__cellkey=`-partitioned table at `liveDir` WITHOUT resolving the
    * existing table: the frame lands in a fresh staging dir (no
    * discovery), then each staged cell dir's data files rename into the
    * live cell dir (part-file names carry the job UUID — no collisions).
    * `replaceDirs = true` deletes each touched live cell dir first (the
    * csums overwrite semantics); false appends beside the existing files
    * (the lists semantics). Single-writer; a crash mid-rename leaves a
    * partial append — the same window the old job-commit had — which the
    * deleted-marker fallback rebuild converges.
    *
    * `batchTag` (the append path's `bMin-bMax` id range) makes the
    * append-beside renames RETRY-IDEMPOTENT: each staged data file's
    * final name is derived from the tag + its per-cell index instead of
    * the job UUID, so re-running a crashed append replaces the files its
    * first attempt already renamed in, rather than landing the batch's
    * rows a second time under fresh names (duplicate ids would violate
    * the index's unique-id contract and skew the centroid folds). Ids
    * are unique across the index, so two DIFFERENT batches can never
    * share a tag; the per-cell index is stable because the same
    * repartition of the same rows stages the same file set. */
  private def stagedPartitionedWrite(spark: SparkSession, liveDir: String,
                                     df: DataFrame,
                                     replaceDirs: Boolean,
                                     batchTag: Option[String] = None)
      : Unit = {
    val live = new org.apache.hadoop.fs.Path(liveDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(liveDir + ".__append_stage")
    if (fs.exists(stage)) fs.delete(stage, true) // stale crashed stage
    val mark = stageTrace("staged-write")
    df.write.partitionBy("__cellkey").parquet(stage.toString)
    mark("stage-job")
    fs.mkdirs(live)
    fs.listStatus(stage).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("__cellkey=")) {
        val dst = new org.apache.hadoop.fs.Path(live, name)
        if (replaceDirs && fs.exists(dst)) fs.delete(dst, true)
        // deterministic destination name per (cell, batch, file index):
        // sorted staged names make the index assignment reproducible
        // across a retry of the same batch
        def dstName(srcName: String, i: Int): String =
          batchTag.fold(srcName)(t => s"append-$t-$i.parquet")
        if (!fs.exists(dst) && batchTag.isEmpty) {
          // whole-dir rename when the target is absent and names need
          // no rewrite (one FS op)
          require(fs.rename(st.getPath, dst),
            s"staged append: rename ${st.getPath} -> $dst failed")
        } else {
          fs.mkdirs(dst)
          fs.listStatus(st.getPath).toSeq
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .sortBy(_.getPath.getName).zipWithIndex.foreach { case (f, i) =>
              val target =
                new org.apache.hadoop.fs.Path(dst, dstName(f.getPath.getName, i))
              // a retry re-lands the file its crashed attempt already
              // renamed in — replace, never duplicate
              if (fs.exists(target)) fs.delete(target, false)
              require(fs.rename(f.getPath, target),
                s"staged append: rename ${f.getPath} into $dst failed")
            }
        }
      }
    }
    fs.delete(stage, true)
    mark("renames")
    ()
  }

  /** Does `dir` hold any parquet data files? (A zero-row or torn write
    * leaves only _SUCCESS; reading it would crash schema inference.) */
  private[graft] def hasParquetData(spark: SparkSession,
                                    dir: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(p) && fs.listStatus(p).exists { st =>
        if (st.isFile)
          st.getPath.getName.endsWith(".parquet") &&
            !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith(".")
        else walk(st.getPath)
      }
    walk(root)
  }

  private def hasCsumsData(spark: SparkSession, path: String): Boolean =
    hasParquetData(spark, s"$path/csums")

  /** All csums rows EXCEPT the named cells' — the untouched side of a
    * full centers re-derivation (the torn-live-centers repair inside the
    * fold path). None when every stored cell was touched (the caller
    * then derives from the merged frame alone). */
  private def readUntouchedCsums(spark: SparkSession, path: String,
                                 touched: Seq[String],
                                 labelCol: String): Option[DataFrame] = {
    val dirs = csumsCellDirs(spark, path, touched, include = false)
    if (dirs.isEmpty) None
    else Some(spark.read.option("basePath", s"$path/csums")
      .parquet(dirs.map(_.toString): _*)
      .select(col(labelCol), col("__chunk"), col("__psums"), col("__n")))
  }

  private def csumsMarkerPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/csums_marker")

  /** (max indexed id, dims, last folded epoch, last epoch's row-set
    * hash) from the csums validity marker — present IFF the csums on
    * disk cover exactly the lists on disk. Format: one line
    * `maxId|dims` (batch index) or `maxId|dims|epoch|setHash`
    * (streaming ingest — the epoch field makes a crash-REPLAYED
    * micro-batch recognizable as already folded, and the set hash
    * ([[csumsBatchStats]]' XOR-of-row-hashes) pins the replay to the
    * exact row set the fold saw: a reused epoch id that merely shares
    * the old max id rebuilds instead of silently keeping stale csums);
    * a legacy 3-field marker (epoch, no hash) parses with an unknown
    * hash, which the replay check treats as a mismatch — rebuild, never
    * a skip. Malformed → None (fallback recompute). */
  private[graft] def readCsumsMarker(spark: SparkSession, path: String)
      : Option[(Long, Int, Option[Long], Option[Long])] = {
    val p = csumsMarkerPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else try {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      raw.split('|') match {
        case Array(maxId, d) => Some((maxId.toLong, d.toInt, None, None))
        case Array(maxId, d, e) =>
          Some((maxId.toLong, d.toInt, Some(e.toLong), None))
        case Array(maxId, d, e, h) =>
          Some((maxId.toLong, d.toInt, Some(e.toLong), Some(h.toLong)))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
    // malformed marker → None (fallback recompute); fatal errors (OOM,
    // interrupts) propagate instead of silently triggering an O(n·d)
    // rebuild
  }

  private[graft] def deleteCsumsMarker(spark: SparkSession,
                                       path: String): Unit = {
    val p = csumsMarkerPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, false); () }
  }

  /** Written LAST (temp + atomic rename): a present marker always names
    * a csums/centers pair that agrees with the lists. The streaming
    * ingest stamps (epoch, epochHash) together so a crash replay is
    * recognizable by row SET, not just by the epoch's max id. */
  private def writeCsumsMarker(spark: SparkSession, path: String,
                               maxId: Long, dims: Int,
                               epoch: Option[Long] = None,
                               epochHash: Option[Long] = None): Unit = {
    val p = csumsMarkerPath(path)
    LayoutMarker.replaceWith(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
      "csums marker")(_.write(
      (s"$maxId|$dims" + epoch.fold("")(e => s"|$e") +
        (for { _ <- epoch; h <- epochHash } yield s"|$h").getOrElse(""))
        .getBytes("UTF-8")))
  }

  /** The layout of `path/lists`, from one driver-side glob: Some(false)
    * flat (`lists/__cellkey=c`, [[buildIvfIndex]]), Some(true) streamed
    * epochs (`lists/__batch=N/__cellkey=c`), None for no data dirs. A
    * tree holding both (every read then fails with conflicting partition
    * columns) is refused. */
  private[graft] def listsEpoched(spark: SparkSession,
                                  path: String): Option[Boolean] = {
    val pattern = new org.apache.hadoop.fs.Path(
      s"$path/lists/{__batch=*,__cellkey=*}")
    val fs = pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = Option(fs.globStatus(pattern)).toSeq.flatten
      .filter(_.isDirectory).map(_.getPath.getName)
    val Seq(epochs, flat) =
      Seq("__batch=", "__cellkey=").map(d => names.exists(_.startsWith(d)))
    require(!(epochs && flat), s"$path/lists mixes __batch= epoch dirs " +
      "with flat __cellkey= dirs; rebuild the index")
    if (epochs) Some(true) else if (flat) Some(false) else None
  }

  /** The data columns of the lists, from one data file's footer
    * (driver-side, no Spark job); None when the lists hold no data. */
  private def listsColumns(spark: SparkSession,
                           path: String): Option[Seq[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cells = new org.apache.hadoop.fs.Path(
      s"$path/lists/{__cellkey=*,__batch=*/__cellkey=*}")
    val fs = cells.getFileSystem(conf)
    Option(fs.globStatus(cells)).toSeq.flatten.iterator
      .flatMap(d => fs.listStatus(d.getPath))
      .find(f => f.getPath.getName.endsWith(".parquet") &&
        !f.getPath.getName.startsWith("."))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try r.getFooter.getFileMetaData.getSchema.getFields.toArray
          .map(_.asInstanceOf[org.apache.parquet.schema.Type].getName).toSeq
        finally r.close()
      }
  }

  /** A PQ sidecar's encoding, from its marker. */
  private[graft] final case class PqSidecar(m: Int, ksub: Int, dims: Int,
                                            residual: Boolean)

  /** The guard every IVF mutation runs before anything lands: heals a
    * crashed compaction, refuses the other lists layout (`epochs` = the
    * one this entry point writes) and lists without `labelCol` (a retrain
    * relabels cells to `cell`), and returns the PQ sidecar the rows must
    * also be encoded into — refusing a `pq/` without a valid marker. */
  private[graft] def ivfLayout(spark: SparkSession, path: String,
                               labelCol: String, dims: Int, epochs: Boolean,
                               op: String): Option[PqSidecar] = {
    recoverIvfTables(spark, path)
    require(!listsEpoched(spark, path).contains(!epochs),
      if (epochs) s"$op: $path has the flat batch layout — append " +
        "through Similarity.appendToIvfIndex instead"
      else s"$op: $path has the streaming epoch layout — ingest " +
        "through StreamOps.ivfIngestTo instead")
    listsColumns(spark, path).foreach(have => require(have.contains(labelCol),
      s"$op: the lists under $path lack `$labelCol` (they hold " +
        s"${have.mkString(", ")})"))
    val pqDir = new org.apache.hadoop.fs.Path(s"$path/pq")
    if (!pqDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(pqDir)) None
    else {
      val (_, m, ksub, d, residual) = readPqMarker(spark, path).getOrElse(
        throw new IllegalStateException(s"$op: the PQ sidecar under " +
          s"$path has no valid marker — run addPqToIvfIndex to rebuild it"))
      require(d == dims, s"$op: pq sidecar dims $d != $dims")
      Some(PqSidecar(m, ksub, d, residual))
    }
  }

  /** Heal a crashed compaction of `lists` and `pq/codes` — run before
    * every IVF append, epoch and probe: in the window between a
    * compaction's renames an append would start a fresh table beside
    * the only copy of the corpus, and a probe would return nothing. */
  private[graft] def recoverIvfTables(spark: SparkSession,
                                      path: String): Unit =
    Seq("lists", "pq/codes").foreach(t =>
      ParquetCompact.recoverTable(spark, s"$path/$t"))

  /** Compact an IVF index in place, in the layout it holds: flat
    * `lists` (and `pq/codes`) to one file per cell dir through
    * [[ParquetCompact]]'s staged swap; streamed `lists` epochs into the
    * reserved `__batch=-1` ([[ParquetCompact.consolidateEpochs]]), after
    * dropping the assigned ingest's centers copies, which key on the
    * epoch set this destroys. Streamed codes keep their epoch dirs (the
    * sidecar's replay device). Rows are untouched, so the markers stay
    * valid and probes do not change. Single-writer. Returns the lists
    * row count. */
  def compactIvfIndex(spark: SparkSession, path: String): Long = {
    recoverIvfTables(spark, path)
    listsEpoched(spark, path) match {
      case None => 0L
      case Some(false) =>
        val n = ParquetCompact.partitionedTable(spark, s"$path/lists",
          "__cellkey")
        if (hasParquetData(spark, s"$path/pq/codes"))
          ParquetCompact.partitionedTable(spark, s"$path/pq/codes",
            "__cellkey")
        n
      case Some(true) =>
        val ce = new org.apache.hadoop.fs.Path(s"$path/centers_epoch")
        ce.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(ce, true)
        ParquetCompact.consolidateEpochs(spark, s"$path/lists") {
          (df, stageDir) =>
            // one task per cell keeps one file per cell directory
            df.repartition(col("__cellkey"))
              .write.partitionBy("__cellkey").parquet(stageDir)
        }.getOrElse(spark.read.parquet(s"$path/lists").count())
    }
  }

  /** Quantizer-aging diagnostics for a persisted IVF index. The k-means
    * geometry is frozen at build time; an ingest whose cluster structure
    * the frozen centers cannot express degrades the index SILENTLY —
    * first as fit (these metrics), and at narrow probe widths as recall
    * (ProbeAging: a shifted cluster scattered across ~4 frozen cells
    * reads 0.90 recall@5 at nProbe 2 against a fresh 1.0, recovering to
    * 0.98 after a K ∝ n retrain) — these two numbers make the aging
    * observable so [[retrainIvfIndex]] can be scheduled on evidence
    * instead of on faith:
    *
    *  - `occupancySkew`: max cell row count over the mean — from the
    *    stored csums fold state alone ((cells × chunks) rows, METADATA
    *    scale, no corpus scan). Assignment funnels a shifted stream into
    *    the few cells that happen to face it, so the skew climbs.
    *  - `meanResidual`: mean (1 − cos(vector, its cell center)) over a
    *    BOUNDED hash sample of the lists ([[boundedHashSample]] — fixed
    *    cost at any corpus size). Shifted vectors sit far from every
    *    frozen center, so the residual climbs even when skew alone is
    *    ambiguous (a skewed-but-well-fit corpus is legitimate).
    *
    * Requires csums fold state (any post-round-12 index; a legacy index
    * rebuilds it via [[rebuildIvfCsums]] first). Zero-norm cells (-1)
    * participate like any other — their center is the fold over their
    * members. */
  final case class IvfDriftStats(cells: Long, rows: Long,
                                 occupancySkew: Double,
                                 meanResidual: Double)

  def ivfDriftStats(spark: SparkSession, path: String, idCol: String,
                    vecCol: String, labelCol: String, dims: Int = 64,
                    sampleN: Int = 1000,
                    cellMod: Int = 1): IvfDriftStats = {
    require(hasCsumsData(spark, path),
      s"ivfDriftStats needs the csums fold state under $path " +
        "(run rebuildIvfCsums on a legacy index first)")
    val sizes = spark.read.parquet(s"$path/csums")
      .groupBy(col(labelCol)).agg(sum(col("__n")).as("__rows"))
      .agg(count(lit(1)), sum(col("__rows")), max(col("__rows")),
        avg(col("__rows"))).head()
    // an empty-but-present csums store (zero-row schema-carrying file)
    // passes hasCsumsData but leaves the sum/max/avg aggregates null —
    // report zero stats instead of NPEing on getLong
    if (sizes.getLong(0) == 0L || sizes.isNullAt(1))
      return IvfDriftStats(0L, 0L, 0.0, 0.0)
    val (cells, rows) = (sizes.getLong(0), sizes.getLong(1))
    val skew = if (cells == 0) 0.0 else sizes.getLong(2) / sizes.getDouble(3)
    // cellMod > 1: the SAMPLED-DRIFT fast path — the residual sample's
    // id-hash filter still had to SCAN every cell partition (a
    // column-pruned corpus pass per maintenance check; 11.2 s/epoch at
    // 100x). Pre-filtering on a hash of the `__cellkey` PARTITION
    // column prunes ~ (cellMod-1)/cellMod of the cell dirs at file
    // listing (both the flat and the __batch epoch layouts — the
    // partition predicate is evaluated against dir values, no data
    // read), so the check's scan cost drops by the same factor. Cells
    // are chosen by md5 of the key — independent of drift, so a
    // shifted stream's funnel cells are sampled at the same rate as
    // any others; rows/cells/skew stay EXACT (csums-derived — they
    // feed the K ∝ n resize and must remain corpus-accurate). 1 =
    // exact (every cell scanned), the default.
    val lists = spark.read.parquet(s"$path/lists")
    val sampledLists =
      if (cellMod <= 1) lists
      else lists.filter(
        pmod(Md5Prefix28(col("__cellkey").cast("string")),
          lit(cellMod.toLong)) === 0)
    val sample = boundedHashSample(
      sampledLists.select(col(idCol), col(vecCol), col(labelCol)),
      idCol, sampleN)
    val centers = spark.read.parquet(s"$path/centers")
    val res = sample
      .join(centers, sample(labelCol) === centers("__cell"))
      .select((lit(1.0) - dot(col(vecCol), col("__center")) /
        (norm(col(vecCol)) * norm(col("__center")))).as("__r"))
      .filter(!isnan(col("__r")))
      .agg(avg(col("__r"))).head()
    IvfDriftStats(cells, rows, skew,
      if (res.isNullAt(0)) 0.0 else res.getDouble(0))
  }

  /**
   * RETRAIN a drifted k-means-quantized index in place: train a fresh
   * quantizer on the CURRENT corpus (the stored lists — which by now
   * include every shifted batch the frozen geometry mis-assigned),
   * re-assign every vector, and swap the rebuilt index live. This is
   * the recovery lever the aging metrics ([[ivfDriftStats]]) schedule
   * — measured on the deterministic aging fixture: sampled residual
   * 0.195 → 0.095 and narrow-width shifted recall@5 0.90 → 0.98 after
   * retraining at K ∝ n (ProbeAging; resizing matters — at a frozen K
   * over a doubled corpus the residual got WORSE). The retrained
   * index's cell column is named `cell` (the k-means convention)
   * regardless of the old label column — probe with labelCol = "cell".
   *
   * The new index is built COMPLETE in a sibling staging dir (lists,
   * centers, csums, marker — a [[buildIvfIndex]] like any other), then
   * swapped via two directory renames:
   *
   *   1. live `path` → `path.__retrain_old`  (live root disappears)
   *   2. `path.__retrain_new` → `path`       (rebuilt root appears)
   *
   * Crash contract (single-writer, like every index mutator): a crash
   * during the staging build leaves the live index UNTOUCHED (stale
   * staging dirs are deleted on the next attempt); a crash between the
   * renames leaves the live root loudly MISSING with both `__retrain_old`
   * and `__retrain_new` present — never a silently mixed index —
   * and the next [[retrainIvfIndex]] call repairs it (restores the old
   * root, then retrains). The cell count defaults to the OLD index's
   * (geometry refresh, not a resize); pass `k` to resize while
   * retraining. Training cost is Lloyd's O(n·k·d·iters) over the sample
   * — corpus-scale by nature, which is exactly why it runs on the
   * metrics' schedule instead of per append.
   */
  def retrainIvfIndex(spark: SparkSession, path: String, idCol: String,
                      vecCol: String, dims: Int = 64, k: Int = -1,
                      iters: Int = 4, trainMod: Int = -1,
                      superAssign: Int = -1): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(path)
    val oldP = new org.apache.hadoop.fs.Path(s"$path.__retrain_old")
    val newP = new org.apache.hadoop.fs.Path(s"$path.__retrain_new")
    // repair a rename-window crash: the old root is authoritative while
    // the live root is missing (the new root's swap never completed)
    if (!fs.exists(live) && fs.exists(oldP))
      require(fs.rename(oldP, live), s"retrain crash repair failed: $oldP")
    require(fs.exists(live), s"no index at $path")
    fs.delete(newP, true); fs.delete(oldP, true)
    recoverIvfTables(spark, path)
    val epochs = listsEpoched(spark, path).contains(true)

    val corpus = spark.read.parquet(s"$path/lists")
      .select(col(idCol), col(vecCol))
    val nVec = corpus.count()
    val kCells =
      if (k > 0) k
      else parquetRowCount(spark, s"$path/centers").toInt.max(1)
    val tm =
      if (trainMod > 0) trainMod
      else math.max(1L, nVec / (50L * kCells)).toInt
    val labeled = corpus.join(
      kmeansLabels(corpus, idCol, vecCol, k = kCells, iters = iters,
        dims = dims, trainMod = tm, superAssign = superAssign), Seq(idCol))
    buildIvfIndex(labeled, idCol, vecCol, "cell", newP.toString, dims)
    // a STREAMING-ingest index keeps its epoch-partitioned lists tree
    // (lists/__batch=N/__cellkey=c — the replay-idempotence layout):
    // nest the rebuilt flat lists under the reserved consolidation
    // epoch BEFORE the swap, so the ingest's next epochs land beside it
    // exactly as after compactIvfIndex. Crash-safe: the staging root is
    // garbage until the swap, and the renames happen inside it. (The
    // fold state is layout-independent — the csums marker stamped by
    // the build stays valid, selects drop partition columns.)
    if (epochs) {
      val flat = new org.apache.hadoop.fs.Path(s"$newP/lists")
      val tmp = new org.apache.hadoop.fs.Path(s"$newP/lists.__flat")
      require(fs.rename(flat, tmp), s"retrain epoch nesting failed: $flat")
      fs.mkdirs(flat)
      require(fs.rename(tmp,
        new org.apache.hadoop.fs.Path(s"$newP/lists/__batch=-1")),
        s"retrain epoch nesting failed: $tmp")
    }

    require(fs.rename(live, oldP), s"retrain swap-out failed: $path")
    require(fs.rename(newP, live), s"retrain swap-in failed: $newP")
    fs.delete(oldP, true)
  }

  /** What [[maintainIvfIndex]] observed and did: the drift stats it
    * measured, whether it retrained, and the cell count the retrain
    * used (-1 = kept the old K, or no retrain). */
  final case class IvfMaintenance(stats: IvfDriftStats, retrained: Boolean,
                                  k: Int)

  /**
   * The maintenance POLICY that wires [[ivfDriftStats]] into
   * [[retrainIvfIndex]] — the round-13 verdict's gap: the metrics and
   * the recovery lever both existed, but nothing SCHEDULED them, so a
   * long-running ingest on shifted data degraded until an operator
   * manually probed drift. Call this after ingest epochs / appends /
   * compactions (or on a timer): it measures drift once and retrains
   * IFF a threshold is breached —
   *
   *  - `residualThreshold` on `meanResidual` (1 − cos to the assigned
   *    center, bounded sample): the direct fit-quality signal. The
   *    aging fixture reads ~0.146 fresh and ~0.195 after the
   *    out-of-distribution ingest, so 0.17 separates them with margin;
   *    calibrate to the corpus by reading the FRESH index's stats once
   *    (the default exists to be overridden, not trusted blindly).
   *  - `skewThreshold` on `occupancySkew` (max/mean cell occupancy):
   *    the cheaper early signal — drifted ingests pile into the few
   *    cells that face them. Default off (MaxValue): skew alone can be
   *    a legitimate corpus shape.
   *
   * `targetRowsPerCell` > 0 resizes the retrain to K = ⌈rows/target⌉ —
   * the K ∝ n contract (measured round 13: retraining at a FROZEN K
   * over a doubled corpus fits both halves WORSE; pass the build-time
   * design density to keep it). Default keeps the old K.
   *
   * SINGLE-WRITER contract (the same fence every index mutator
   * carries, made explicit here because a policy invites scheduling):
   * the retrain swaps the live root by rename, so ingest MUST be
   * paused — or this call fenced to the ingest's own epoch boundary
   * (the `foreachBatch` body, where the stream is the only writer) —
   * before maintenance runs. A probe racing the swap window sees a
   * missing root, not a torn index. The retrained index's label column
   * is `cell` whatever `labelCol` was (the [[retrainIvfIndex]]
   * convention) — steer subsequent probes and maintenance accordingly.
   *
   * Cost: the no-breach path is ONE bounded-sample metrics pass
   * (O(cells) + O(sampleN)) — cheap enough to run every epoch; only a
   * breach pays the corpus-scale Lloyd's retrain.
   */
  def maintainIvfIndex(spark: SparkSession, path: String, idCol: String,
                       vecCol: String, labelCol: String = "cell",
                       dims: Int = 64,
                       residualThreshold: Double = 0.17,
                       skewThreshold: Double = Double.MaxValue,
                       targetRowsPerCell: Int = -1,
                       iters: Int = 4, sampleN: Int = 1000,
                       superAssign: Int = -1,
                       cellMod: Int = 1): IvfMaintenance = {
    val stats = ivfDriftStats(spark, path, idCol, vecCol, labelCol, dims,
      sampleN, cellMod)
    val breach = stats.rows > 0 &&
      (stats.meanResidual > residualThreshold ||
        stats.occupancySkew > skewThreshold)
    if (!breach) return IvfMaintenance(stats, retrained = false, k = -1)
    val k =
      if (targetRowsPerCell > 0)
        math.max(1, math.ceil(stats.rows.toDouble / targetRowsPerCell).toInt)
      else -1
    retrainIvfIndex(spark, path, idCol, vecCol, dims, k = k, iters = iters,
      superAssign = superAssign)
    IvfMaintenance(stats, retrained = true, k = k)
  }

  /**
   * Assign NEW vectors to a persisted index's EXISTING centers — the
   * production labeler for a k-means-quantized index's ingest path:
   * [[kmeansLabels]] trains the quantizer once at build time; incoming
   * batches then quantize to that frozen geometry with ONE assignment
   * step (no retraining), exactly the max-cosine / ties-to-smaller-cell /
   * zero-norm→cell-−1 semantics of [[kmeansLabels]]' final pass (the
   * [[assignCells]] code path is shared, so parity is structural, not
   * approximate). Cost: batch × broadcast(K centers) scoring — the
   * BATCH, never the corpus. Requires integral cells (the k-means
   * shape; a label-typed index brings its own labels). Returns
   * (idCol, cell).
   */
  def assignToCenters(spark: SparkSession, path: String, batch: DataFrame,
                      idCol: String, vecCol: String): DataFrame =
    assignAgainst(spark.read.parquet(s"$path/centers"), batch, idCol, vecCol)

  /** [[assignToCenters]] against an explicit centers frame
    * (`__cell`, `__center`) instead of a stored one — the entry the
    * streaming ingest uses to assign against centers recomputed WITHOUT
    * the replayed epoch's own rows (replay idempotence). */
  def assignAgainst(centers: DataFrame, batch: DataFrame,
                    idCol: String, vecCol: String): DataFrame = {
    val ct = centers.schema("__cell").dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType).contains(ct),
      s"assignToCenters needs integral cells (k-means quantizer), got $ct")
    assignCells(batch.select(col(idCol), col(vecCol)),
      centers.select(col("__cell"), col("__center")), idCol, vecCol)
      .select(col(idCol), col("__cell").as("cell"))
  }

  /** The [[cellCenters]] fold over an arbitrary labeled frame — public so
    * the streaming ingest can recompute assignment-time centers from the
    * on-disk lists minus the replayed epoch (same arithmetic as the build
    * and refresh; order-free, so the source layout does not matter). */
  def cellCentersOf(df: DataFrame, labelCol: String, idCol: String,
                    vecCol: String, dims: Int = 64): DataFrame =
    cellCenters(df, labelCol, idCol, vecCol, dims)

  /**
   * THE auto two-level crossover rule, in one place (the probe default,
   * the pruned k-means assignment, and the ProbeIndexed artifact all
   * resolve through it — a probe harness that hand-copied the literal
   * would silently disagree with the plan that actually ran if the rule
   * moved): explicit superProbe (>= 0) wins; auto (-1) engages two-level
   * at width 2^superBits/4 only once the cell count K clears the
   * supercell count with room (K > 2^superBits × 4 — below that the flat
   * ranking is already as small as the supercell ranking and the extra
   * stage is pure overhead: measured K=10 slower / K=1000 2.4× faster,
   * PLANS.md round-6). Small indexes therefore keep exact flat probing:
   * the auto default never changes a small-K caller's results.
   */
  private[graft] def resolveSuperProbe(nCells: Long, superProbe: Int,
                                       superBits: Int): Int =
    if (superProbe >= 0) superProbe
    else if (nCells > (1L << superBits) * 4) math.max(1, (1 << superBits) / 4)
    else 0

  /** THE auto nProbe rule (round-12 recall engineering; round-13 adds
    * the recall tier), in one place: explicit (>= 0) wins — including
    * the degenerate 0, which keeps its probe-nothing semantics; auto
    * (-1, BALANCED) probes 2·ceil(√K) cells with a floor of 2; auto
    * (-2, RECALL TIER) probes 8·ceil(√K) (the ONE stated rule —
    * ProbeIndexed and tools/check_probe.py document the same
    * expression). Rationale: a FIXED nProbe makes the scanned corpus
    * fraction (nProbe/K) collapse as the cell count grows with the
    * corpus (the SemDeDup K ∝ n contract) — recall@5 on the probe
    * harness's k-means index fell 0.41 → 0.24 going 1× → 100× at
    * nProbe = 2 because 2 of 40 cells is 5% of the corpus but 2 of
    * 1,000 is 0.2%. √K-proportional widths keep per-probe work
    * sublinear in K while the scanned fraction degrades only as 1/√K —
    * the standard IVF operating curve. The factor 2 is the measured
    * balanced point clearing the recall@5 >= 0.5 floor at the probe
    * artifact's budget; the factor 8 is the measured recall-tier point
    * clearing 0.7 with margin once the supercell cut scales with the
    * width ([[probeSuperWidth]] — 100× ann_curve: np = 128 reads 0.756,
    * np = 256 under the flat ranking 0.889). Contract rows pin nProbe
    * explicitly and are untouched by the auto rules. */
  private[graft] def resolveNProbe(nCells: Long, nProbe: Int): Int = {
    val root = math.ceil(math.sqrt(nCells.toDouble)).toInt
    if (nProbe >= 0) nProbe
    else if (nProbe == -2) math.max(2, 8 * root)
    else math.max(2, 2 * root)
  }

  /** The PROBE path's auto supercell width — [[resolveSuperProbe]]'s
    * engage rule plus pool scaling (round 13): the top-`sp` supercells
    * hold ~sp·K/2^bits candidate cells, and a cell ranking asked for
    * `nProbe` cells from a pool smaller than ~4× that is CAPPED by the
    * cut, not by the probe budget — the 100× ann_curve read the SAME
    * 0.596 recall at nProbe 256 and 512 because the fixed width-4 cut
    * held the pool at ~250 of 1,000 cells, while the flat ranking read
    * 0.889/0.973. The width therefore grows with the resolved nProbe
    * (ceil(4·nProbe / cells-per-supercell)), and once it would reach
    * every supercell the cut resolves to 0 = the flat ranking itself
    * (identical results, minus the pointless supercell stage). Explicit
    * pins and the engage crossover are unchanged — a below-crossover or
    * narrow-probe caller resolves exactly as in round 12. */
  private[graft] def probeSuperWidth(nCells: Long, superProbe: Int,
                                     superBits: Int, nProbe: Int): Int = {
    if (superProbe >= 0) return superProbe
    val base = resolveSuperProbe(nCells, superProbe, superBits)
    if (base == 0) return 0
    val perSuper = math.max(1L, nCells / (1L << superBits))
    val need = math.ceil(4.0 * nProbe / perSuper).toInt
    val width = math.max(base, need)
    if (width >= (1 << superBits)) 0 else width
  }

  /** Row count of a parquet directory from file FOOTERS alone —
    * driver-side metadata, no Spark job (each footer records its row
    * groups' row counts). For the K-row centers tables this is
    * milliseconds where a count() action pays full job-launch latency.
    * The footer shortcut applies ONLY to the layout the centers writer
    * produces (flat data files directly under `dir`); a partitioned or
    * non-`.parquet`-suffixed tree falls back to the count() this
    * replaces — correct for any layout — instead of silently returning
    * 0 and flipping the auto probe plan. */
  private[graft] def parquetRowCount(spark: SparkSession,
                                     dir: String): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val visible = fs.listStatus(root).toSeq
      // mirror Spark's data-file filter exactly: hidden files ('_'/'.'
      // prefixes — _SUCCESS, staged copies, temp files) are invisible to
      // spark.read.parquet, so counting their footers would diverge from
      // the count() this replaces and could flip the auto probe plan
      .filter(st => !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
    val dataFiles = visible.filter(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
    if (visible.isEmpty) 0L // only hidden files (_SUCCESS) or nothing:
    // 0 rows, same as the footer sum always said — spark.read would
    // throw on schema inference here, a crash the old code never had
    else if (dataFiles.size != visible.size)
      spark.read.parquet(dir).count() // layout drift: pay the job, stay correct
    else dataFiles.iterator.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /**
   * Probe a persisted IVF index ([[buildIvfIndex]]): same semantics and —
   * under the flat cell ranking — BIT-IDENTICAL results as the inline
   * [[ivfKnnJoin]] (centers and norms round-trip exactly through parquet
   * doubles; the scoring arithmetic is shared), but nothing is recomputed
   * and the corpus scan is pruned to the probed cells' partitions on
   * disk. The DEFAULT is superProbe = -1 (AUTO): flat ranking — and with
   * it the bit-identity — up to 2^superBits × 4 cells, two-level cell
   * selection beyond that crossover, where flat's O(probes × K) center
   * ranking is the one term that grows with the cell count (measured
   * 3.4× at K = 1000; a production caller who defaults gets that win
   * without knowing the flag exists). Pin superProbe = 0 to force flat
   * unconditionally (the contract rows do — their oracles mirror the
   * flat ranking and must not flip plan with the corpus); a positive
   * value forces a two-level width. Two-level trades recall for cost
   * once it engages (see [[probedCellsTwoLevel]]) — results are then NOT
   * bit-identical to the inline form. The probed-cell key set (≤ probes
   * × nProbe values) is collected to the driver to drive the
   * partition-pruning filter — metadata-scale, like the one-row
   * broadcast bounds elsewhere.
   *
   * `nProbe = -1` (opt-in AUTO, round 12): probe 2·ceil(√K) cells via
   * [[resolveNProbe]] — the measured BALANCED point that keeps recall
   * from collapsing as the cell count grows with the corpus (K ∝ n).
   * `nProbe = -2` (RECALL TIER, round 13): 8·ceil(√K) — the measured
   * point clearing recall@5 ≥ 0.7 at the probe artifact's 100× budget
   * (the auto supercell cut scales with the width via
   * [[probeSuperWidth]], resolving to the flat ranking when the cut
   * would have to admit every supercell anyway — the fixed width-4 cut
   * silently capped wide probes at ~0.6 recall). The DEFAULT stays the
   * explicit `nProbe = 2` so existing callers' plans and the contract
   * oracles are untouched.
   */
  def ivfKnnJoinIndexed(spark: SparkSession, path: String, probes: DataFrame,
                        idCol: String, vecCol: String, labelCol: String,
                        k: Int, nProbe: Int = 2, superProbe: Int = -1,
                        superBits: Int = 4, superOffset: Int = 32): DataFrame = {
    recoverIvfTables(spark, path)
    val centers = spark.read.parquet(s"$path/centers")
    // auto resolution ([[resolveSuperProbe]]/[[resolveNProbe]]) needs
    // only the CELL COUNT — read it from the centers parquet footers
    // (driver-side metadata, no Spark job: the prior centers.count()
    // action cost every BELOW-crossover default caller a full extra job
    // just to resolve to the same flat plan — measured ~0.4 s per probe
    // call at sf0.1). Explicit pins short-circuit BEFORE the footer
    // read (no dummy count threaded through the resolver).
    lazy val nCells = parquetRowCount(spark, s"$path/centers")
    val resolvedNProbe =
      if (nProbe >= 0) nProbe else resolveNProbe(nCells, nProbe)
    val resolvedSuper =
      if (superProbe >= 0) superProbe
      else probeSuperWidth(nCells, superProbe, superBits, resolvedNProbe)
    val probedCells =
      if (resolvedSuper > 0)
        probedCellsTwoLevel(centers, probes, resolvedNProbe, resolvedSuper,
          superBits, superOffset)
      else probedCellsFor(centers, probes, resolvedNProbe)
    // a ZERO-ROW index ([[buildIvfIndex]] over an empty frame) has a
    // data-less lists dir that schema inference cannot read — probing it
    // returns the empty result with the contract schema, not a crash
    if (!hasParquetData(spark, s"$path/lists"))
      return probes.select(col("probe_id")).limit(0)
        .withColumn("rank", lit(0).cast("int"))
        .withColumn("neighbor_id", lit(0L))
        .withColumn("cos", lit(0.0))
    val cellKeys = probedCells.select(col("__cell").cast("string"))
      .distinct().collect().map(_.getString(0))
    val lists = spark.read.parquet(s"$path/lists")
      .filter(col("__cellkey").isin(cellKeys.toIndexedSeq: _*))
    TopKAgg.requireIntegralId(lists, idCol, "ivfKnnJoinIndexed")
    emitTopK(
      lists.join(probedCells, lists(labelCol) === probedCells("__cell"))
        .filter(col(idCol) =!= col("probe_id"))
        .select(col("probe_id"), col(idCol),
          (dot(col(vecCol), col("__pv")) /
            (col("__cn") * col("__pn"))).as("cos")),
      idCol, k)
  }

  /** Supercell centroids (__sc, __scenter) of an LSH-bucketed centers
    * frame — shared by the two-level probe and the pruned k-means
    * assignment so the (deterministic) fold exists exactly once. */
  private def superCentersOf(sc: DataFrame): DataFrame = sc
    .select(col("__sc"), posexplode(col("__center")).as(Seq("pos", "v")))
    .groupBy(col("__sc"), col("pos"))
    // deterministic: supercells hold ≤ K rows — fold in cell order is
    // unnecessary since avg over a sorted collect keeps ordering fixed
    .agg(sort_array(collect_list(col("v"))).as("vs"), count(lit(1)).as("n"))
    .select(col("__sc"), col("pos"),
      (aggregate(col("vs"), lit(0.0), (a, x) => a + x) / col("n")).as("sv"))
    .groupBy(col("__sc"))
    .agg(sort_array(collect_list(struct(col("pos"), col("sv")))).as("ps"))
    .select(col("__sc"),
      transform(col("ps"), p => p.getField("sv")).as("__scenter"))

  /**
   * Two-level cell selection for [[ivfKnnJoinIndexed]]: with K cells the
   * flat ranking is O(probes × K) center cosines per probe batch — the
   * ONE growing term of the fixed-probe IVF workload (measured: 1.2 →
   * 11.7 s as K went 10 → 1000 under K ∝ n; PLANS.md round-6). Centers
   * are grouped into supercells by their own sign-LSH bucket
   * ([[rankLshBucket]] over the center vector), each supercell gets the
   * deterministic centroid of its centers, and a probe ranks the
   * ≤ 2^bits supercenters first, keeping `superProbe` of them — center
   * ranking then touches only those supercells' centers:
   * O(probes × (2^bits + K·superProbe/2^bits)).
   *
   * Recall caveat (the standard two-level trade): a nearest cell whose
   * SUPERCELL does not rank in the top `superProbe` is never probed.
   * `superProbe >= 2^bits` degenerates to the flat ranking exactly
   * (spec-pinned), so the knob moves continuously between recall and
   * cost.
   */
  private def probedCellsTwoLevel(centers: DataFrame, probes: DataFrame,
                                  nProbe: Int, superProbe: Int,
                                  bits: Int, offset: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val sc = centers.withColumn("__sc",
      rankLshBucket(col("__center"), bits, offset))
    val supers = superCentersOf(sc)
    val sw = w.partitionBy(col("probe_id"))
      .orderBy(col("__sscos").desc, col("__sc"))
    val topSupers = supers.crossJoin(broadcast(probes))
      .select(col("probe_id"), col("__sc"),
        when(norm(col("__scenter")) * norm(col("__pv")) > 0.0,
          dot(col("__scenter"), col("__pv")) /
            (norm(col("__scenter")) * norm(col("__pv")))).as("__sscos"))
      // zero-divisor (ANSI throws) / NaN-first DESC hazards, as in flat
      .filter(col("__sscos").isNotNull && !isnan(col("__sscos")))
      .withColumn("__srn", row_number().over(sw))
      .filter(col("__srn") <= superProbe)
      .select(col("probe_id").as("__spid"), col("__sc").as("__tsc"))
    val cw = w.partitionBy(col("probe_id"))
      .orderBy(col("__ccos").desc, col("__cell"))
    broadcast(
      sc.join(topSupers, col("__sc") === col("__tsc"))
        .join(broadcast(probes), col("probe_id") === col("__spid"))
        .select(col("probe_id"), col("__pv"), col("__cell"),
          when(norm(col("__center")) * norm(col("__pv")) > 0.0,
            dot(col("__center"), col("__pv")) /
              (norm(col("__center")) * norm(col("__pv")))).as("__ccos"))
        // zero-divisor (ANSI throws) / NaN-first DESC hazards, as in flat
        .filter(col("__ccos").isNotNull && !isnan(col("__ccos")))
        .withColumn("__rn", row_number().over(cw))
        .filter(col("__rn") <= nProbe)
        .select(col("probe_id"), col("__pv"), col("__cell"),
          norm(col("__pv")).as("__pn")))
  }

  /** Per-label IVF cell centers as ordered arrays (__cell, __center) —
    * shared by [[ivfTopK]] and [[ivfKnnJoin]] so the (oracle-mirrored)
    * centroid bracketing exists exactly once. */
  private def cellCenters(df: DataFrame, labelCol: String, idCol: String,
                          vecCol: String, dims: Int): DataFrame =
    centersFromComponents(
      centroidComponents(df, labelCol, idCol, vecCol, dims), labelCol)

  /** [[cellCenters]] for FIXED-WIDTH vector frames, computed through the
    * csums array fold ([[csumsOf]] → [[centersFromCsums]]) — bit-
    * identical per position (same id-ordered inner fold, same chunk-
    * ordered outer fold, same division; csumsOf's doc + Round12OpsSpec
    * pin the parity, CentroidParitySpec pins this form against the
    * scalar pipeline directly) while moving 1/dims the rows through the
    * two aggregate shuffles: the scalar form posexplodes every vector
    * into dims rows BEFORE the first groupBy, and at k-means/PQ-train
    * scale the per-row aggregate machinery, not the additions, is the
    * measured cost. FIXED-WIDTH premise (the IVF index contract): a
    * vector shorter than `dims` null-poisons its cell here, where the
    * scalar form would tolerate it with per-position counts — callers
    * whose frames are not width-guaranteed ([[semDedupByCell]]'s user
    * frames) stay on [[cellCenters]]. */
  private def cellCentersFixedWidth(df: DataFrame, labelCol: String,
                                    idCol: String, vecCol: String,
                                    dims: Int): DataFrame =
    centersFromCsums(csumsOf(df, labelCol, idCol, vecCol, dims), labelCol)

  /** Stage 3 of the centroid pipeline: (label, pos, dim_avg) components →
    * (__cell, __center) ordered arrays. Factored out so the incremental
    * csums refresh feeds the IDENTICAL array assembly as the full
    * recompute. */
  private def centersFromComponents(comps: DataFrame,
                                    labelCol: String): DataFrame =
    comps.groupBy(col(labelCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("dim_avg"))))
        .as("ps"))
      .select(col(labelCol).as("__cell"),
        transform(col("ps"), p => p.getField("dim_avg")).as("__center"))

  /** (probe_id, idCol, cos) rows → (probe_id, rank, neighbor_id, cos) via
    * the bounded [[TopKAgg]] — the one place the (cos DESC, id ASC)
    * emission/tie-break policy lives. */
  private def emitTopK(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored.groupBy(col("probe_id"))
      .agg(TopKAgg(col("cos"), col(idCol).cast("long"), k).as("__top"))
      .select(col("probe_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("probe_id"),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__e.id").as("neighbor_id"),
        col("__e.score").as("cos"))

  /**
   * Recall@k of an ANN result against the exact brute-force result on the
   * same probes — the quality gate every approximate index needs before a
   * corpus-scale rollout (an ANN path that silently returns the wrong
   * neighbors looks identical to a healthy one in throughput metrics).
   * Both inputs are (probe_id, neighbor_id, …) frames; output is one row
   * per probe: (probe_id, n_exact, n_hit, recall). Probes the exact path
   * scored but the ANN missed entirely still get a row (recall 0).
   */
  def recallAtK(ann: DataFrame, exact: DataFrame): DataFrame = {
    // `exact` feeds both the hit join and the per-probe denominator; it is
    // a full corpus scan upstream, so materialize it once (no cross-branch
    // CSE in Spark). Result is probes × k rows — tiny.
    val ex = exact.localCheckpoint(false)
    val hits = ex.select(col("probe_id"), col("neighbor_id"))
      .join(ann.select(col("probe_id"), col("neighbor_id")),
        Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hit"))
    ex.groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact")).as("recall"))
  }

  /**
   * Symmetric per-vector int8 quantization (the storage/bandwidth path for
   * embedding corpora): scale = max|x|/127, q_i = floor(x_i/scale + 0.5)
   * clamped to [-127, 127]. floor(+0.5) instead of round() because engines
   * disagree on round-half semantics but agree bit-for-bit on floor over
   * doubles — the quantized values are engine-reproducible. All-zero
   * vectors quantize to zeros with scale 0. Returns (id, pos, q, scale)
   * exploded to scalars.
   */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val scale = array_max(transform(col(vecCol), x => abs(x.cast("double")))) /
      lit(127.0)
    df.select(col(idCol), col(vecCol), scale.as("scale"))
      .select(col(idCol), col("scale"),
        posexplode(transform(col(vecCol), x =>
          when(col("scale") === 0.0, lit(0L))
            .otherwise(least(greatest(
              floor(x.cast("double") / col("scale") + 0.5), lit(-127L)),
              lit(127L))).cast("int"))).as(Seq("pos", "q")))
      .select(col(idCol), col("pos"), col("q"), col("scale"))
  }

  /**
   * Int8-quantized ANN with exact rescore — the memory-bound scale path:
   * candidates rank by an INTEGER dot product over per-vector int8
   * quantizations (the corpus scan touches 1 byte/dim instead of 4, and
   * integer sums are exact, so the ranking is bit-deterministic on any
   * engine — no float-association hazards in the wide scan), then only the
   * top `rerank` candidates are rescored with the exact double cosine.
   *
   * The approximate score `qdot · scaleA · scaleP` is a fixed left-to-right
   * multiply of one long and two doubles — reproducible, so the candidate
   * cut is stable across engines (id tiebreak for exact ties). Uses the
   * same floor(+0.5) quantizer as [[quantizeInt8]].
   */
  def quantizedTopK(df: DataFrame, idCol: String, vecCol: String,
                    probeId: Long, k: Int, rerank: Int = 30): DataFrame = {
    def scaleOf(v: Column): Column =
      array_max(transform(v, x => abs(x.cast("double")))) / lit(127.0)
    def quant(v: Column, s: Column): Column = transform(v, x =>
      when(s === 0.0, lit(0L)).otherwise(
        least(greatest(floor(x.cast("double") / s + 0.5), lit(-127L)),
          lit(127L)).cast("long")))
    val qd = df.withColumn("__scale", scaleOf(col(vecCol)))
      .withColumn("__q", quant(col(vecCol), col("__scale")))
    val probe = broadcast(qd.filter(col(idCol) === probeId)
      .select(col(vecCol).as("__pv"), col("__q").as("__pq"),
        col("__scale").as("__pscale")))
    val qdot = aggregate(zip_with(col("__q"), col("__pq"), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    qd.crossJoin(probe)
      .filter(col(idCol) =!= probeId)
      .withColumn("__approx",
        qdot.cast("double") * col("__scale") * col("__pscale"))
      .orderBy(col("__approx").desc, col(idCol))
      .limit(rerank)
      .select(col(idCol), cosine(col(vecCol), col("__pv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /**
   * Batch kNN join: for EVERY probe vector (a deterministic hash sample of
   * the corpus — at 100 TB the probe set is "the new batch" or "the query
   * workload", small relative to the corpus), the exact top-k cosine
   * neighbors. The multi-probe generalization of [[cosineTopK]].
   *
   * Scale shape: probes broadcast (tiny side), the corpus is scanned ONCE
   * computing scores per (row, probe), and the per-probe top-k runs as the
   * bounded [[TopKAgg]] — map-side partial states of ≤k entries per probe,
   * ONE shuffle that carries at most k·partitions rows per probe instead of
   * the corpus×probes score space. No window, no per-group sort, no
   * collect_list of a whole group.
   *
   * Rows whose cosine is NaN (zero-norm vectors) are excluded — TopKAgg
   * admits only a total order, and engines disagree on NaN ranking.
   */
  def knnJoin(df: DataFrame, idCol: String, vecCol: String,
              probePct: Int = 1, k: Int = 3): DataFrame = {
    require(probePct >= 0 && probePct <= 100, s"probePct=$probePct")
    knnJoinWith(df,
      df.filter(pmod(Md5Prefix28(col(idCol).cast("string")), lit(100L)) < probePct)
        .select(col(idCol).as("probe_id"), col(vecCol).as("__pv")),
      idCol, vecCol, k, excludeSelf = true)
  }

  /** [[knnJoin]] with an explicit probe frame (probe_id, __pv) — the form a
    * real workload uses: a query batch joined against a corpus it is not
    * sampled from. The probe side must be small enough to broadcast.
    * `excludeSelf` only makes sense when probes ARE corpus rows (the
    * sampled [[knnJoin]]); an external batch must not exclude corpus ids
    * that merely collide with its own numbering. */
  def knnJoinWith(df: DataFrame, probes: DataFrame, idCol: String,
                  vecCol: String, k: Int,
                  excludeSelf: Boolean = false): DataFrame = {
    TopKAgg.requireIntegralId(df, idCol, "knnJoinWith")
    // norms once per vector, not once per (probe, row) pair: the per-pair
    // work drops from three O(d) folds (dot + 2 norms) to one. Same
    // dot/(na·nb) bracketing as cosine() — bit-identical values.
    val base = spread(df.select(col(idCol), col(vecCol),
      norm(col(vecCol)).as("__cn")))
    val p = probes.select(col("probe_id"), col("__pv"),
      norm(col("__pv")).as("__pn"))
    emitTopK(
      base.join(broadcast(p),
        if (excludeSelf) col(idCol) =!= col("probe_id") else lit(true))
        .select(col("probe_id"), col(idCol),
          (dot(col(vecCol), col("__pv")) /
            (col("__cn") * col("__pn"))).as("cos")),
      idCol, k)
  }

  /**
   * Per-label centroid components (IVF-style coarse quantizer statistics),
   * deterministic AND scale-safe.
   *
   * Round-1 design collected EVERY (id, value) of a (label, pos) group into
   * one sorted array to fix the double-summation order — one hot label at
   * corpus scale = one giant array on one task. This is the two-phase
   * replacement: rows are assigned to one of `numChunks` chunks by a HASH
   * of the id (md5-prefix mod numChunks — a deterministic function of the
   * id set, independent of physical partitioning AND of id density; range
   * chunking would degrade to one chunk per row on sparse id domains),
   * each chunk folds its values in id order into a partial sum, and the
   * partials fold in chunk order. Arrays are bounded (~groupSize/numChunks
   * values, ≤numChunks partials); both folds are sequential, so the result
   * is bit-reproducible on any cluster layout — the DuckDB oracle
   * reproduces the identical chunked bracketing.
   */
  def centroidComponents(df: DataFrame, labelCol: String, idCol: String,
                         vecCol: String, dims: Int,
                         numChunks: Int = 1024): DataFrame = {
    val x = df.select(col(labelCol), col(idCol),
      posexplode(col(vecCol)).as(Seq("pos", "v")))
      .filter(col("pos") < dims)
      .withColumn("__chunk",
        pmod(Md5Prefix28(col(idCol).cast("string")), lit(numChunks.toLong)))
    val partials = x
      .groupBy(col(labelCol), col("pos"), col("__chunk"))
      .agg(sort_array(collect_list(struct(col(idCol).as("k"),
        col("v").cast("double").as("v")))).as("vs"),
        count(lit(1)).as("n"))
      .select(col(labelCol), col("pos"), col("__chunk"),
        aggregate(col("vs"), lit(0.0), (acc, e) => acc + e.getField("v"))
          .as("psum"),
        col("n"))
    partials
      .groupBy(col(labelCol), col("pos"))
      .agg(sort_array(collect_list(struct(col("__chunk").as("c"),
        col("psum").as("p")))).as("ps"),
        sum(col("n")).as("n"))
      .select(col(labelCol), col("pos"),
        (aggregate(col("ps"), lit(0.0), (acc, e) => acc + e.getField("p")) /
          col("n")).as("dim_avg"))
  }

  /**
   * Deterministic Lloyd's k-means coarse quantizer — PRODUCES the label
   * column the IVF/SemDeDup family consumes ([[buildIvfIndex]],
   * [[semDedupByCell]], [[ivfKnnJoin]]). The recall gate ([[recallAtK]])
   * showed the probe machinery sound while a non-geometric label column
   * caps recall (0.28@5 at sf0.1); this closes the loop with a
   * data-driven quantizer every engine reproduces bit-for-bit:
   *
   *  - seeds: the `k` corpus vectors with smallest (md5(id), id) — the
   *    layout-free hash-sample device used throughout; cell ids 0..k-1
   *    in that order;
   *  - assign: max-cosine cell, ties to the smaller cell id, reduced
   *    through the bounded [[TopKAgg]] (k=1) — map-side combinable, no
   *    per-vector sort; NaN cosines (zero-norm vectors) never assign,
   *    such vectors get cell -1;
   *  - update: the existing chunked-centroid mean
   *    ([[centroidComponents]]) — bit-reproducible on any layout;
   *  - FIXED `iters` assignment rounds, no convergence test: a
   *    data-dependent stop would hinge on float comparisons across
   *    engines, fixed rounds are engine-exact (the DuckDB oracle unrolls
   *    the same rounds).
   *
   * Scale shape: per round one corpus × centers broadcast join scoring
   * O(n·k·d) — Lloyd's inherent cost — reduced map-side to one row per
   * vector, then the two-phase centroid aggregate; centers (k × d) stay
   * broadcast-sized throughout. Returns (idCol, cell).
   */
  def kmeansLabels(df: DataFrame, idCol: String, vecCol: String, k: Int,
                   iters: Int = 2, dims: Int = 64,
                   trainMod: Int = 1, superAssign: Int = 0,
                   superBits: Int = 4, superOffset: Int = 32): DataFrame = {
    require(k >= 1 && iters >= 1 && trainMod >= 1,
      s"k=$k iters=$iters trainMod=$trainMod")
    TopKAgg.requireIntegralId(df, idCol, "kmeansLabels")
    // base feeds the final assignment (and, un-sampled, every training
    // round and centroid update) — materialize once, respread so the
    // corpus × centers scoring join parallelizes even off one input file
    val base = spread(df.select(col(idCol), col(vecCol)))
      .localCheckpoint(false)
    // trainMod > 1: Lloyd's training cost is O(n·k·d) PER ROUND, and a
    // corpus-proportional cell count (K ∝ n, the SemDeDup contract)
    // makes full-corpus training quadratic-ish in n — measured 9.1 s at
    // 2k vecs/k=10 but 96.9 s at 20k/k=100. The standard IVF fix: train
    // centers on a bounded md5-hash sample (1/trainMod of the corpus —
    // deterministic, layout-free, ~30·k vectors is the usual floor),
    // then ONE full-corpus assignment pass at the end. trainMod = 1
    // keeps training exact (the contract queries pin it so the unrolled
    // SQL oracle stays engine-identical).
    val train =
      if (trainMod <= 1) base
      else base.filter(pmod(Md5Prefix28(col(idCol).cast("string")),
        lit(trainMod.toLong)) === 0).localCheckpoint(false)
    // seeds: global orderBy+limit runs as per-partition top-k + single
    // reduce; the unpartitioned window is over the k-row result only
    val seedW = org.apache.spark.sql.expressions.Window
      .orderBy(col("__m"), col(idCol))
    var centers = train
      .select(col(idCol), col(vecCol),
        md5(col(idCol).cast("string")).as("__m"))
      .orderBy(col("__m"), col(idCol)).limit(k)
      .withColumn("__cell", (row_number().over(seedW) - 1).cast("int"))
      .select(col("__cell"), col(vecCol).as("__center"))
    for (_ <- 1 until iters) {
      val lab = assignCells(train, centers, idCol, vecCol)
      // the SCALAR update, deliberately: the array-fold form
      // ([[cellCentersFixedWidth]]) was measured 40% SLOWER here at the
      // production shape (K = 1000, trainMod 4 at 100×: 17–29 s scalar
      // vs 24–38 s array) — with ~1 training vector per (cell, chunk)
      // the array path pays a 64-double buffer copy + a fresh array
      // allocation per singleton group where the scalar path streams
      // primitive rows; the array fold wins only where chunks hold many
      // rows (small K — the PQ trainer's shape, which keeps it)
      centers = cellCenters(train.join(lab, Seq(idCol)), "__cell",
        idCol, vecCol, dims)
    }
    // final round assigns the FULL corpus (the consumer recomputes the
    // final centers from these labels — ivfKnnJoin/cellCenters).
    // At large K this pass is the k-means build's dominant term
    // (O(n·K·d), quadratic-ish under the K ∝ n contract): superAssign
    // engages the LSH-supercell-pruned assignment — -1 auto-engages past
    // the same crossover the two-level probe uses (K > 2^superBits × 4),
    // an explicit width forces it. The DEFAULT is 0 (exact) so the
    // contract queries' unrolled SQL oracles stay engine-identical.
    // Checkpointed: the output is tiny (id, cell) but its lineage is the
    // corpus × centers scoring join, and a consumer that evaluates the
    // labels twice (buildIvfIndex: centers pass + lists write) would
    // re-run the assignment each time — measured 85 s → 18 s for the
    // 20k-vector / k=100 index build
    val resolvedSuper = resolveSuperProbe(k.toLong, superAssign, superBits)
    (if (resolvedSuper > 0)
      assignCellsPruned(base, centers, idCol, vecCol, resolvedSuper,
        superBits, superOffset)
    else assignCells(base, centers, idCol, vecCol))
      .select(col(idCol), col("__cell").as("cell"))
      .localCheckpoint(false)
  }

  /**
   * [[assignCells]] with LSH-supercell pruning — the large-K form of the
   * final full-corpus Lloyd's assignment, mirroring what
   * [[probedCellsTwoLevel]] does for probes: the exact assignment scores
   * every vector against every center (O(n·K·d) — at K ∝ n the ONE
   * quadratic term left in the k-means build, measured dominant at
   * 100×), while this ranks the ≤ 2^bits supercell centroids per vector
   * and scores only the centers inside the top `superAssign` supercells
   * (O(n·(2^bits + K·superAssign/2^bits)·d)). Same scoring arithmetic,
   * same (cos DESC, cell ASC) tie-break, same zero-norm→-1; APPROXIMATE
   * in the same sense as the two-level probe — a vector whose true best
   * center's supercell ranks below the cut gets its best IN-CUT center
   * instead. `superAssign >= 2^bits` degenerates to the exact assignment
   * (every supercell selected ⟹ every center scored) — the spec's
   * bit-parity anchor.
   *
   * Plan shape: everything up to the final top-1 aggregate is NARROW —
   * supercells and cells ride along as one-row broadcast arrays, the
   * per-vector supercell ranking is an array_sort over ≤ 2^bits entries,
   * and candidates explode from a filtered broadcast array — so the only
   * shuffle is the same n-group aggregate the exact path pays. No
   * corpus-sized join, nothing driver-side beyond the K-row collect.
   */
  private def assignCellsPruned(base: DataFrame, centers: DataFrame,
                                idCol: String, vecCol: String,
                                superAssign: Int, bits: Int,
                                offset: Int): DataFrame = {
    // like [[assignCells]], the output __cell carries the INPUT centers'
    // cell type (the TopKAgg id slot is long throughout, so the end cast
    // is lossless for every admitted integral type) — today only
    // kmeansLabels' int cells reach this path, but the two assignment
    // forms must stay symmetric or a future long-celled caller would
    // re-introduce the INT32-beside-INT64 truncation a69d632 fixed
    val cellType = centers.schema("__cell").dataType
    val sc = centers.withColumn("__sc",
      rankLshBucket(col("__center"), bits, offset))
    val supersRow = superCentersOf(sc)
      .select(struct(col("__sc"),
        col("__scenter"), norm(col("__scenter")).as("__scn")).as("s"))
      .agg(sort_array(collect_list(col("s"))).as("__supers"))
    val cellsRow = sc
      .select(struct(col("__sc"), col("__cell").cast("long").as("__cell"),
        col("__center"), norm(col("__center")).as("__ccn")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("__cells"))
    val vn = col("__vn")
    // per-row: score the supercells, keep the top `superAssign` ids
    val scScored = filter(
      transform(col("__supers"), s =>
        struct(
          when(vn * s.getField("__scn") > 0.0,
            dot(col(vecCol), s.getField("__scenter")) /
              (vn * s.getField("__scn"))).as("c"),
          s.getField("__sc").as("sc"))),
      x => x.getField("c").isNotNull && !isnan(x.getField("c")))
    val scSorted = array_sort(scScored, (l, r) =>
      when(l.getField("c") > r.getField("c"), -1)
        .when(l.getField("c") < r.getField("c"), 1)
        .when(l.getField("sc") < r.getField("sc"), -1)
        .when(l.getField("sc") > r.getField("sc"), 1)
        .otherwise(0))
    val topScs = transform(slice(scSorted, 1, superAssign),
      x => x.getField("sc"))
    base.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__vn"))
      .crossJoin(broadcast(supersRow))
      .crossJoin(broadcast(cellsRow))
      .select(col(idCol), col(vecCol), vn, topScs.as("__scs"),
        col("__cells"))
      // explode_outer: a zero-norm vector selects no supercell and must
      // still emit a group (null score → empty top-1 → cell -1 below)
      .select(col(idCol), col(vecCol), vn,
        explode_outer(filter(col("__cells"),
          c => array_contains(col("__scs"), c.getField("__sc"))))
          .as("__c"))
      .select(col(idCol),
        when(vn * col("__c").getField("__ccn") > 0.0,
          dot(col(vecCol), col("__c").getField("__center")) /
            (vn * col("__c").getField("__ccn"))).as("__cos"),
        col("__c").getField("__cell").as("__cand"))
      .groupBy(col(idCol))
      .agg(TopKAgg(col("__cos"), col("__cand"), 1).as("__top"))
      .select(col(idCol),
        when(size(col("__top")) > 0,
          col("__top").getItem(0).getField("id").cast(cellType))
          .otherwise(lit(-1).cast(cellType)).as("__cell"))
  }

  /** One Lloyd's assignment step: (id, __cell) = the max-cosine center
    * per vector (ties to the smaller cell id), via TopKAgg(k=1). Norms
    * fold once per row/center BEFORE the product join. The output
    * `__cell` carries the INPUT centers' cell type: a long-celled index
    * must not come back as int (appending an INT32 `cell` beside INT64
    * parquet files mixes physical types, and ids past Int.MaxValue would
    * truncate); the TopKAgg id slot is long throughout, so the single
    * end cast is lossless for every admitted integral type. */
  private def assignCells(base: DataFrame, centers: DataFrame,
                          idCol: String, vecCol: String): DataFrame = {
    val cellType = centers.schema("__cell").dataType
    val b = base.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__vn"))
    val c = centers.select(col("__cell"), col("__center"),
      norm(col("__center")).as("__ccn"))
    b.crossJoin(broadcast(c))
      // null (not NaN) cosine when either norm is zero: ANSI mode throws
      // DIVIDE_BY_ZERO on a zero divisor even for doubles (observed on
      // this Spark version — Round7OpsSpec exercised it), and TopKAgg
      // ignores null scores, so a zero-norm vector's group reduces to an
      // empty top-1 → cell -1 below
      .select(col(idCol), col("__cell"),
        when(col("__vn") * col("__ccn") > 0.0,
          dot(col(vecCol), col("__center")) /
            (col("__vn") * col("__ccn"))).as("__cos"))
      .groupBy(col(idCol))
      .agg(TopKAgg(col("__cos"), col("__cell").cast("long"), 1).as("__top"))
      // size-guard, not bare getItem(0): ANSI rejects an out-of-bounds
      // array index, and a zero-norm vector's top-1 is the EMPTY array
      .select(col(idCol),
        when(size(col("__top")) > 0,
          col("__top").getItem(0).getField("id").cast(cellType))
          .otherwise(lit(-1).cast(cellType)).as("__cell"))
  }

  /**
   * Deterministic FIXED-SIZE sample: the `n` rows with the smallest
   * `(md5-prefix(id), id)` key. This is the device every bounded-sample
   * gate in the library uses (probe sets, [[semDedupRecall]]'s input):
   * unlike a `pmod(md5, m) < r` RATE — whose output grows with the
   * corpus, turning any downstream all-pairs join quadratic — the cap
   * holds at ANY corpus size, and the plan is a TakeOrdered (a bounded
   * per-partition heap + an n-row driver merge), never a corpus sort or
   * shuffle. Hash-ordering (not plain id order) keeps the sample
   * uncorrelated with insertion order, and the id tiebreak makes it
   * total, so the sample is layout-free and reproducible by an oracle.
   */
  def boundedHashSample(df: DataFrame, idCol: String, n: Int): DataFrame =
    df.orderBy(graft.functions.Md5Prefix28(col(idCol).cast("string")),
      col(idCol)).limit(n)

  /**
   * SemDeDup recall telemetry — the honest gate [[semDedupByCell]] needs
   * before a corpus-scale rollout, mirroring what [[recallAtK]] does for
   * ANN: cell-bounded dedup misses near-dup pairs whose members quantize
   * into different cells (the published trade-off), and nothing in the
   * dedup output itself reveals how much. On a BOUNDED hash sample this
   * measures it exactly: all sample pairs with exact cosine ≥ tau,
   * versus the subset that shares a cell. `df` must already be the
   * sample (all-pairs over it is intentional — the sample is fixed-size
   * regardless of corpus scale, like the probe batches).
   *
   * Returns one row: (quantizer, n_pairs, n_within_cell, recall) with
   * recall defined 1.0 when the sample has no qualifying pairs.
   */
  def semDedupRecall(df: DataFrame, idCol: String, vecCol: String,
                     cellCol: String, tau: Double,
                     name: String): DataFrame =
    semDedupRecallMulti(df, idCol, vecCol, Seq(name -> cellCol), tau)

  /**
   * [[semDedupRecall]] for SEVERAL candidate quantizers at once — the
   * comparison shape the gate is actually used in (label column vs the
   * trained k-means, round 7's recall tables): the O(sample²) pair join
   * and the exact cosines are computed ONCE, with every quantizer's cell
   * pair carried alongside, and each quantizer reduces to its own
   * (quantizer, n_pairs, n_within_cell, recall) row. Running the
   * single-quantizer form per candidate instead repeats the pair join
   * per quantizer — measured 2× on the contract row's 600-vector sample.
   */
  def semDedupRecallMulti(df: DataFrame, idCol: String, vecCol: String,
                          quantizers: Seq[(String, String)],
                          tau: Double): DataFrame = {
    require(quantizers.nonEmpty, "at least one (name, cellCol) quantizer")
    val cells = quantizers.zipWithIndex.map { case ((_, c), i) =>
      col(c).as(s"__cell$i")
    }
    val base = df.select(col(idCol) +: col(vecCol) +:
        norm(col(vecCol)).as("__n") +: cells: _*)
      .localCheckpoint(false)
    def side(tag: String) = base.select(col(idCol).as(s"__id$tag") +:
      col(vecCol).as(s"__v$tag") +: col("__n").as(s"__n$tag") +:
      quantizers.indices.map(i => col(s"__cell$i").as(s"__c$i$tag")): _*)
    val pairs = side("a").filter(col("__na") > lit(0.0))
      .join(side("b").filter(col("__nb") > lit(0.0)),
        col("__ida") < col("__idb"))
      .select((dot(col("__va"), col("__vb")) /
        (col("__na") * col("__nb"))).as("__cos") +:
        quantizers.indices.flatMap(i =>
          Seq(col(s"__c${i}a"), col(s"__c${i}b"))): _*)
      .filter(!isnan(col("__cos")) && col("__cos") >= tau)
      // one aggregate row carrying every quantizer's within-cell count;
      // the pair join above runs exactly once
      .agg(count(lit(1)).as("n_pairs"),
        quantizers.indices.map(i =>
          sum(when(col(s"__c${i}a") === col(s"__c${i}b"), 1L)
            .otherwise(0L)).as(s"__w$i")): _*)
      .localCheckpoint(false) // one row; feeds one select per quantizer
    quantizers.zipWithIndex.map { case ((name, _), i) =>
      pairs.select(lit(name).as("quantizer"), col("n_pairs"),
        coalesce(col(s"__w$i"), lit(0L)).as("n_within_cell"),
        when(col("n_pairs") === 0, lit(1.0))
          .otherwise(coalesce(col(s"__w$i"), lit(0L)).cast("double") /
            col("n_pairs")).as("recall"))
    }.reduce(_ unionByName _)
  }

  // ---------------------------------------------------------------------
  // Product quantization (IVF-PQ's compression half) — the canonical
  // billion-scale ANN memory reduction: each vector is split into `m`
  // subvectors and each subvector is replaced by the id of its nearest
  // centroid from a per-subvector codebook of `ksub` entries, so a
  // d-float vector stores as m small codes (64 × 4 B → 8 × 1 B here, a
  // 32× cut; with 4-bit packing, 64×). Probes score candidates with
  // ADC (asymmetric distance computation): one m×ksub lookup table of
  // probe-subvector dots per probe, then each candidate's approximate
  // inner product is m table lookups instead of d multiplies — the
  // in-cell scan becomes memory-bandwidth-bound on codes, not vectors.
  // The int8 path ([[quantizeInt8]]) cuts 4×; PQ is the next decade.
  // ---------------------------------------------------------------------

  /** Flatten (sub, code, center) codebook rows into ONE row holding the
    * concatenated centroids ordered by (sub, code) — the broadcastable
    * form every PQ pass rides along as a one-row cross join (the
    * assignCellsPruned device), keeping assignment/encode/ADC fully
    * NARROW: no shuffle touches the corpus. Flat layout:
    * element (sub·ksub + code)·sd + i (0-based) = centroid dim i. */
  private def pqFlat(cb: DataFrame): DataFrame =
    cb.groupBy()
      .agg(sort_array(collect_list(struct(col("sub"), col("code"),
        col("center")))).as("__rows"))
      .select(flatten(transform(col("__rows"),
        r => r.getField("center"))).as("__cb"))

  /** Nearest code for subvector `sv` under codebook `cbFlat`, sub `j`:
    * argmin over the ksub candidates — (distance ASC, code ASC), the
    * same tie-break every quantizer here uses. Pure expression, no
    * shuffle. Evaluated by the native [[PqNearestCode]] expression
    * (bit-identical to the HOF array_min-of-(d2, code)-structs
    * formulation it replaced, which `PqNearestCodeSpec` keeps as the
    * spec its parity test pins against): the HOF form ran
    * ksub × sd interpreted lambda ops per call, m calls per encoded
    * row — the PQ family's dominant per-row cost. */
  private def pqNearestCode(sv: Column, cbFlat: Column, j: Column,
                            ksub: Int, sd: Int): Column =
    PqNearestCode(sv, cbFlat, j, ksub, sd)

  /** `vec`, or a loud failure naming the row's id when it is narrower
    * than `dims`: a short subvector would otherwise take
    * [[PqNearestCode]]'s null-distance branch and code as 0 silently.
    * An expression, so the check rides the caller's own projection and
    * adds no job. */
  private def pqWide(vec: Column, id: Column, dims: Int,
                     op: String): Column =
    when(vec.isNotNull && size(vec) < dims,
      raise_error(concat(lit(s"$op: PQ needs vectors with >= $dims " +
        "elements, found a shorter one at id "), id.cast("string"))))
      .otherwise(vec)

  /** Subvector slice `j` (0-based) of `vec`, promoted to double. */
  private def pqSub(vec: Column, j: Column, sd: Int): Column =
    transform(slice(vec, j * sd + 1, lit(sd)), x => x.cast("double"))

  /**
   * Train per-subvector PQ codebooks with deterministic Lloyd's k-means —
   * the [[kmeansLabels]] recipe applied independently to each of the `m`
   * subvector spaces, all trained in ONE pass per round (subvectors ride
   * as rows labeled (sub, code), so each round is one narrow argmin map
   * plus the shared chunked-centroid aggregate — no per-subvector jobs):
   *
   *  - seeds: the `ksub` corpus vectors with smallest (md5(id), id) —
   *    every subvector's codebook seeds from the SAME rows' slices;
   *  - assign: nearest code by squared L2 (ties to the smaller code id),
   *    computed as a pure expression against the broadcast flat codebook;
   *  - update: the chunked-centroid mean ([[centroidComponents]]) with
   *    composite label sub·ksub+code — bit-reproducible on any layout;
   *  - FIXED `iters` rounds (data-dependent stops don't cross engines).
   *
   * L2 (not cosine) is the PQ-standard metric: subvector norms carry
   * magnitude information the reconstruction needs, and zero subvectors
   * (common — a vector can be zero in one 8-dim slice) have no cosine.
   * `trainMod > 1` trains on a bounded md5-hash sample, the same
   * quadratic-cost escape as [[kmeansLabels]] (contract rows pin 1 so
   * the unrolled SQL oracle stays engine-identical).
   *
   * Returns (sub, code, center) with `center` a length dims/m double
   * array. Scale: per round O(n·m·ksub·(dims/m)) = O(n·ksub·dims) map
   * work — same as one coarse k-means round — and codebooks are
   * m·ksub·(dims/m) = ksub·dims doubles, broadcast-sized forever.
   */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, m: Int = 8,
              ksub: Int = 16, iters: Int = 2, dims: Int = 64,
              trainMod: Int = 1): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(ksub >= 1 && iters >= 1 && trainMod >= 1,
      s"ksub=$ksub iters=$iters trainMod=$trainMod")
    val sd = dims / m
    val tmark = stageTrace("pq-train")
    val base = spread(df.select(col(idCol),
        pqWide(col(vecCol), col(idCol), dims, "pqTrain").as(vecCol)))
      .localCheckpoint(false)
    val train =
      if (trainMod <= 1) base
      else base.filter(pmod(Md5Prefix28(col(idCol).cast("string")),
        lit(trainMod.toLong)) === 0).localCheckpoint(false)
    tmark("setup")
    // (id, sub, sv) rows: the per-subvector training corpus
    val subRows = train
      .select(col(idCol), explode(sequence(lit(0), lit(m - 1))).as("__sub"),
        col(vecCol))
      .select(col(idCol), col("__sub"),
        pqSub(col(vecCol), col("__sub"), sd).as("__sv"))
    val seedW = org.apache.spark.sql.expressions.Window
      .orderBy(col("__m"), col(idCol))
    val seeds = train
      .select(col(idCol), col(vecCol),
        md5(col(idCol).cast("string")).as("__m"))
      .orderBy(col("__m"), col(idCol)).limit(ksub)
      .withColumn("code", (row_number().over(seedW) - 1).cast("int"))
    var cb = seeds
      .select(explode(sequence(lit(0), lit(m - 1))).as("sub"), col("code"),
        col(vecCol))
      .select(col("sub"), col("code"),
        pqSub(col(vecCol), col("sub"), sd).as("center"))
    for (_ <- 1 until iters) {
      val labeled = subRows.crossJoin(broadcast(pqFlat(cb)))
        .select(col(idCol), col("__sv"),
          (col("__sub") * ksub +
            pqNearestCode(col("__sv"), col("__cb"), col("__sub"), ksub, sd))
            .as("__pcell"))
      // fixed-width premise: __sv is pqSub's exact sd-wide slice of an
      // index-contract vector — the array-fold update applies
      val updated = cellCentersFixedWidth(labeled, "__pcell", idCol,
        "__sv", sd)
        .select((col("__cell") / ksub).cast("int").as("sub"),
          pmod(col("__cell"), lit(ksub)).cast("int").as("code"),
          col("__center").as("__new"))
      // a code no subvector chose this round keeps its previous centroid
      // — the flat-codebook layout REQUIRES the (sub, code) grid complete
      // (slice offsets are positional), and k-means restarts on empty
      // cells don't cross engines; the oracle mirrors with a LEFT JOIN
      cb = cb.join(updated, Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
          coalesce(col("__new"), col("center")).as("center"))
    }
    tmark("rounds-built(lazy)")
    cb
  }

  /**
   * PQ-encode a corpus against trained codebooks: (id, codes) with
   * `codes` the length-m int array of nearest code ids per subvector.
   * ONE narrow map over the corpus — the codebook rides as a one-row
   * broadcast, no shuffle, no explode: the 100 TB encode is a scan.
   */
  def pqEncode(df: DataFrame, codebooks: DataFrame, idCol: String,
               vecCol: String, m: Int = 8, ksub: Int = 16,
               dims: Int = 64): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val sd = dims / m
    // EXPLICIT spread before the per-row encode: the encode is the
    // library's most CPU-dense narrow map (m×ksub interpreted
    // zip_with/aggregate dots per row — higher-order functions do not
    // codegen), and its parallelism would otherwise be the INPUT
    // SPLIT count — compressed float-array parquet packs ~200k vectors
    // into one 29 MB split, so a 100× encode ran as ONE 30-minute task
    // on a 32-core box (round 15, caught live in a jstack). The
    // round-robin shuffle moves 4·dims bytes/row once to buy
    // core-count parallelism on work that costs ~1000× its I/O
    // ([[spread]] skips it when the input is already wide).
    spread(df.select(col(idCol),
        pqWide(col(vecCol), col(idCol), dims, "pqEncode").as(vecCol)))
      .crossJoin(broadcast(pqFlat(codebooks)))
      .select(col(idCol),
        transform(sequence(lit(0), lit(m - 1)), j =>
          pqNearestCode(pqSub(col(vecCol), j, sd), col("__cb"), j,
            ksub, sd)).as("codes"))
  }

  /**
   * PQ ANN with exact rescore, single probe — the [[quantizedTopK]] twin
   * at the next compression decade: candidates rank by the ADC
   * approximate inner product (per probe, an m×ksub lookup table of
   * probe-subvector · centroid dots is computed ONCE as a pure
   * expression; each candidate then costs m table lookups folded in sub
   * order — deterministic left fold, engine-reproducible), and only the
   * top `rerank` are rescored with the exact double cosine.
   *
   * In-query form: trains codebooks on the WHOLE table (probe included,
   * like [[quantizedTopK]] quantizes the whole table) so a DuckDB oracle
   * can replay training, encode, ADC, and rescore bit-for-bit.
   *
   * Scale shape: train (bounded via trainMod at scale) + ONE narrow
   * corpus scan computing codes and approx scores (codebook and LUT ride
   * broadcast; nothing corpus-sized shuffles), a rerank-sized global
   * top-k (per-partition partial + single reduce), and a rerank-row
   * exact pass. With codes PERSISTED (pqEncode output stored beside an
   * IVF cell layout), the scan reads m bytes/vector instead of 4·dims.
   */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String, probeId: Long,
             k: Int, rerank: Int = 20, m: Int = 8, ksub: Int = 16,
             iters: Int = 2, dims: Int = 64, trainMod: Int = 1): DataFrame = {
    val sd = dims / m
    val cb = pqTrain(df, idCol, vecCol, m, ksub, iters, dims, trainMod)
    val codes = pqEncode(df, cb, idCol, vecCol, m, ksub, dims)
    // LUT: one row — lut[j·ksub + c] = dot(probe_sub_j, centroid_{j,c}),
    // each entry the same left-fold dot the rescore uses
    val probe = df.filter(col(idCol) === probeId)
      .select(col(vecCol).as("__pv"))
    val lut = probe.crossJoin(broadcast(pqFlat(cb)))
      .select(col("__pv"),
        flatten(transform(sequence(lit(0), lit(m - 1)), j =>
          transform(sequence(lit(0), lit(ksub - 1)), c =>
            aggregate(
              zip_with(pqSub(col("__pv"), j, sd),
                slice(col("__cb"), (j * ksub + c) * sd + 1, lit(sd)),
                (a, b) => a * b),
              lit(0.0), (acc, x) => acc + x)))).as("__lut"))
    val approx = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, j) => acc +
        element_at(col("__lut"), (j * ksub + element_at(col("codes"), j + 1))
          .cast("int") + 1))
    codes.crossJoin(broadcast(lut))
      .filter(col(idCol) =!= probeId)
      .select(col(idCol), col("__pv"), approx.as("__approx"))
      .orderBy(col("__approx").desc, col(idCol))
      .limit(rerank)
      .join(df.select(col(idCol), col(vecCol)), Seq(idCol))
      .select(col(idCol), cosine(col(vecCol), col("__pv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------------------------- IVF-PQ

  private def pqMarkerPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/pq/pq_marker")

  /** (max indexed id, m, ksub, dims, residual) from the PQ sidecar
    * marker — present IFF the codes on disk cover exactly the lists on
    * disk (the csums-marker discipline applied to the sidecar).
    * `residual` says the codes quantize `vec − snapshotCenter(cell)`
    * (the FAISS IVF-PQ composition) rather than raw vectors; a legacy
    * 4-field marker parses as residual = false. Malformed → None; the
    * probe REFUSES a marker-less sidecar rather than silently missing
    * appended rows. */
  private[graft] def readPqMarker(spark: SparkSession, path: String)
      : Option[(Long, Int, Int, Int, Boolean)] = {
    val p = pqMarkerPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else try {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      raw.split('|') match {
        case Array(maxId, m, ksub, d) =>
          Some((maxId.toLong, m.toInt, ksub.toInt, d.toInt, false))
        case Array(maxId, m, ksub, d, r) =>
          Some((maxId.toLong, m.toInt, ksub.toInt, d.toInt, r == "1"))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private[graft] def deletePqMarker(spark: SparkSession,
                                    path: String): Unit = {
    val p = pqMarkerPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, false); () }
  }

  /** Written LAST (temp + atomic rename), after codebooks and codes
    * agree with the lists — every crash window leaves it absent. */
  private[graft] def writePqMarker(spark: SparkSession, path: String,
                            maxId: Long, m: Int, ksub: Int,
                            dims: Int, residual: Boolean = false): Unit = {
    val p = pqMarkerPath(path)
    val r = if (residual) "1" else "0"
    LayoutMarker.replaceWith(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
      "pq marker")(_.write(s"$maxId|$m|$ksub|$dims|$r".getBytes("UTF-8")))
  }

  /** Extend a residual sidecar's FROZEN coarse-center snapshot with the
    * first-seen live centers of cells born after the snapshot. Without
    * this, post-snapshot cells fell back to RAW-vector codes scored
    * against codebooks trained on near-zero residuals — systematically
    * mis-scaled ADC that, under a finite rerank budget, misranks true
    * neighbors in fresh cells out of the finalist set (round-14 advice).
    * A new cell's geometry is born at its first append: freezing its
    * center THEN gives its codes the same decode contract snapshot
    * cells have, and its residuals (vec − first-seen mean) live on the
    * same scale the codebooks were trained for. A cell's snapshot entry
    * is written once and never moves; replay-idempotent by
    * set-difference (a crash-retried batch finds its cells already
    * present and writes nothing). Call BEFORE encoding the batch. */
  private[graft] def extendPqSnapshot(spark: SparkSession, path: String,
                                      batchCells: Seq[String]): Unit = {
    val snapDir = s"$path/pq/centers"
    if (!hasParquetData(spark, snapDir)) return
    val have = spark.read.parquet(snapDir)
      .select(col("__cell").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val fresh = batchCells.filterNot(have)
    if (fresh.isEmpty) return
    // LEGACY-SIDECAR guard (round-15 advice): a post-snapshot cell that
    // ALREADY holds codes in the sidecar was encoded by the pre-fix
    // RAW-vector fallback (no snapshot center → raw codes, probe scores
    // them with a zero center-dot). Freezing its center now would flip
    // the probe's decode for the WHOLE cell to residual — adding __cdot
    // on top of codes that already reflect the raw vector, double-
    // counting the center and misranking those rows under a finite
    // rerank budget. Such cells stay raw-fallback (consistent on both
    // sides, merely coarser); only cells with NO codes yet — truly born
    // by this batch — get their first-seen center frozen. Upgrading a
    // legacy sidecar wholesale = re-run addPqToIvfIndex.
    val freshNoCodes = fresh.filterNot(cellsWithPqCodes(spark, path, fresh))
    if (freshNoCodes.isEmpty) return
    spark.read.parquet(s"$path/centers")
      .filter(col("__cell").cast("string")
        .isin(freshNoCodes.toIndexedSeq: _*))
      .repartition(1)
      .write.mode("append").parquet(snapDir)
  }

  /** Which of `cells` already hold codes in the PQ sidecar — a
    * metadata-only FS listing over both layouts (flat
    * `pq/codes/__cellkey=…`, streaming `pq/codes/__batch=N/__cellkey=…`),
    * matched on ESCAPED dir names (the csumsCellDirs rule, so a
    * special-charactered label can't read as absent). */
  private def cellsWithPqCodes(spark: SparkSession, path: String,
                               cells: Seq[String]): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(s"$path/pq/codes")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (cells.isEmpty || !fs.exists(root)) return Set.empty
    val onDisk = scala.collection.mutable.Set[String]()
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory) {
        if (n.startsWith("__cellkey=")) onDisk += n
        else if (n.startsWith("__batch="))
          fs.listStatus(st.getPath).foreach { st2 =>
            val n2 = st2.getPath.getName
            if (st2.isDirectory && n2.startsWith("__cellkey=")) onDisk += n2
          }
      }
    }
    cells.filter(c => onDisk.contains("__cellkey=" +
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(c))).toSet
  }

  /**
   * Replace `vecCol` with the RESIDUAL against each row's assigned
   * cell center — the FAISS IVF-PQ encoding target: within-cell
   * residuals span a far tighter ball than raw vectors (the cell
   * radius, not the corpus radius), so the same m·log2(ksub) bits
   * quantize visibly finer. `centers` is the FROZEN snapshot persisted
   * beside the codebooks (`path/pq/centers`): the live centers move on
   * every append (they are cell means), and codes must decode against
   * the exact geometry they were encoded with. A row whose label has
   * no snapshot center (a cell born after the snapshot, via an
   * assigned append) keeps its raw vector — the probe mirrors with a
   * zero center-dot, so the two sides stay consistent. One broadcast
   * join, no shuffle: centers are K rows, broadcast-sized forever.
   */
  private[graft] def residualizedRows(rows: DataFrame,
                                      centers: DataFrame, vecCol: String,
                                      labelCol: String): DataFrame = {
    val keep = rows.columns
    rows.join(
        broadcast(centers.select(col("__cell").as("__rz_cell"),
          col("__center").as("__rz_ctr"))),
        rows(labelCol) === col("__rz_cell"), "left")
      .withColumn(vecCol,
        when(col("__rz_ctr").isNull,
          transform(col(vecCol), x => x.cast("double")))
        .otherwise(zip_with(col(vecCol), col("__rz_ctr"),
          (a, b) => a.cast("double") - b)))
      .select(keep.map(col).toIndexedSeq: _*)
  }

  /** Encode rows carrying their cell labels — the sidecar form of
    * [[pqEncode]] (codes land partitioned by the SAME `__cellkey` as
    * the lists, so a probe prunes the same partitions). `extraCols`
    * passes outer partition columns through (the streaming layout's
    * `__batch` epoch dirs — codes must mirror the lists' tree or
    * partition discovery breaks on the mixed structure). */
  private[graft] def pqEncodeCells(rows: DataFrame, cb: DataFrame,
                                   idCol: String, vecCol: String,
                                   labelCol: String, m: Int, ksub: Int,
                                   dims: Int,
                                   extraCols: Seq[String] = Nil)
      : DataFrame = {
    val sd = dims / m
    // spread by CELL KEY before the encode (the pqEncode parallelism
    // fix, keyed so the downstream partitionBy("__cellkey") write
    // still lands one file per cell per batch): the encode's
    // parallelism must come from the cluster, not the input split
    // count — one dense parquet split serialized a 100× encode onto
    // one core
    val spreadN = math.max(rows.sparkSession.sparkContext
      .defaultParallelism, 1)
    rows.select((Seq(col(idCol), col(vecCol), col(labelCol),
        col(labelCol).cast("string").as("__cellkey")) ++
        extraCols.map(col)): _*)
      .repartition(spreadN, (col("__cellkey") +: extraCols.map(col)): _*)
      .crossJoin(broadcast(pqFlat(cb)))
      .select((Seq(col(idCol), col(labelCol),
        transform(sequence(lit(0), lit(m - 1)), j =>
          pqNearestCode(pqSub(col(vecCol), j, sd), col("__cb"), j,
            ksub, sd)).as("codes"),
        col("__cellkey")) ++ extraCols.map(col)): _*)
  }

  /** The PQ codes of freshly landed labeled rows under the STORED
    * codebooks — the one encode step of [[appendToIvfIndex]] and the
    * streamed epoch. Residual sidecars encode against the FROZEN
    * snapshot centers (decode geometry is pinned at addPq time); a cell
    * BORN by these rows gets its first-seen live center frozen in first
    * ([[extendPqSnapshot]]), so call this after the centers refresh. */
  private[graft] def pqCodesOf(spark: SparkSession, path: String,
                               rows: DataFrame, idCol: String,
                               vecCol: String, labelCol: String,
                               pq: PqSidecar): DataFrame = {
    val encodeRows =
      if (!pq.residual) rows
      else {
        extendPqSnapshot(spark, path,
          rows.select(col(labelCol).cast("string")).distinct()
            .collect().map(_.getString(0)).toIndexedSeq)
        residualizedRows(rows, spark.read.parquet(s"$path/pq/centers"),
          vecCol, labelCol)
      }
    pqEncodeCells(encodeRows, spark.read.parquet(s"$path/pq/codebooks"),
      idCol, vecCol, labelCol, pq.m, pq.ksub, pq.dims)
  }

  /** Re-stamp the pq marker once the codes cover the lists again — only
    * from a PRESENT csums marker (absent = the refresh is mid-crash). */
  private[graft] def restampPqMarker(spark: SparkSession, path: String,
                                     pq: PqSidecar): Unit =
    readCsumsMarker(spark, path).foreach { case (maxId, _, _, _) =>
      writePqMarker(spark, path, maxId, pq.m, pq.ksub, pq.dims, pq.residual)
    }

  /**
   * Attach a PQ sidecar to a persisted [[buildIvfIndex]] — the full
   * IVF-PQ layout: `path/pq/codebooks` (m·ksub rows, broadcast-sized
   * forever) and `path/pq/codes` (m small ints per vector, PARTITIONED
   * BY THE SAME `__cellkey` as the lists). A probe then reads codes —
   * m bytes/vector instead of 4·dims — for its candidate cells only,
   * and touches float vectors just for the `rerank` finalists. At
   * 100 TB this is what keeps the in-cell scan in the page cache.
   *
   * Freshness contract: the sidecar marker stamps the index's max id
   * (copied from the csums marker — no extra corpus scan); the probe
   * REFUSES a stale or missing marker loudly. [[appendToIvfIndex]] and
   * the streamed epochs encode new rows whenever `pq/` exists
   * (encode-and-append is a narrow map — no retrain needed); [[retrainIvfIndex]]'s root swap drops the sidecar
   * with the old root, and the next probe says so — rebuild with this.
   */
  def addPqToIvfIndex(spark: SparkSession, path: String, idCol: String,
                      vecCol: String, labelCol: String, m: Int = 8,
                      ksub: Int = 256, iters: Int = 2, dims: Int = 64,
                      trainMod: Int = 0,
                      residual: Boolean = false): Unit = {
    val mark = stageTrace("pq-add")
    recoverIvfTables(spark, path)
    deletePqMarker(spark, path)
    require(hasParquetData(spark, s"$path/lists"),
      s"addPqToIvfIndex: no lists data under $path")
    val lists = spark.read.parquet(s"$path/lists")
    val n = parquetRowCount(spark, s"$path/lists")
    val tm = if (trainMod > 0) trainMod
             else math.max(1L, n / (50L * ksub)).toInt
    // residual mode snapshots the coarse centers INTO the sidecar and
    // quantizes vec − snapshotCenter(cell) (the FAISS composition):
    // live centers are cell means that move on every append, while
    // codes must decode against the geometry they were encoded with —
    // the snapshot freezes it, and quantizer geometry thereafter moves
    // only via retrain (which drops the whole sidecar)
    // residual snapshot: the source `centers` table is already LANDED
    // state (one tiny file), so a checkpointed read of it IS the
    // snapshot's content — residualization trains/encodes against that
    // checkpoint while the snapshot file copy lands concurrently below
    // (crash before it lands leaves no pq marker; re-run converges)
    var snapWrite: Option[() => Unit] = None
    val trainRows =
      if (!residual) {
        // a previous RESIDUAL sidecar on this path left a centers
        // snapshot that a raw re-encode never reads (the marker says
        // raw) — dead state that misleads debugging; drop it
        val snap = new org.apache.hadoop.fs.Path(s"$path/pq/centers")
        val sfs = snap.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (sfs.exists(snap)) { sfs.delete(snap, true); () }
        lists
      }
      else {
        val snapSrc = spark.read.parquet(s"$path/centers")
          .localCheckpoint(true)
        snapWrite = Some(() => snapSrc.write.mode("overwrite")
          .parquet(s"$path/pq/centers"))
        residualizedRows(lists, snapSrc, vecCol, labelCol)
      }
    mark("residualize")
    // codebooks are CHECKPOINTED before anything consumes them: the
    // training lineage runs exactly once, and the write below and the
    // encode read the same materialized bits — the same
    // landed-equivalence the old write → read-back device bought, minus
    // the serialization (the three sidecar writes — centers snapshot,
    // codebooks, codes — are independent of each other and overlap; the
    // pq marker still lands strictly last, after all of them)
    val cb = pqTrain(trainRows, idCol, vecCol, m, ksub, iters, dims, tm)
      .localCheckpoint(true)
    mark("train")
    val epoched = lists.columns.contains("__batch")
    val extra = if (epoched) Seq("__batch") else Nil
    inParallel((snapWrite.toSeq ++ Seq(
      () => cb.write.mode("overwrite").parquet(s"$path/pq/codebooks"),
      // a streaming index's lists carry the __batch epoch partition —
      // the codes tree mirrors it (epoch outer, cell inner) so the
      // layouts never mix
      () => pqEncodeCells(trainRows, cb, idCol, vecCol, labelCol, m,
        ksub, dims, extra)
        .write.mode("overwrite")
        .partitionBy((extra :+ "__cellkey"): _*)
        .parquet(s"$path/pq/codes"))): _*)
    mark("sidecar-writes")
    // max id: the csums marker when valid (no scan), else one ids scan
    val maxId = readCsumsMarker(spark, path).map(_._1).getOrElse(
      maxIdOf(lists, idCol, labelCol, "addPqToIvfIndex")
        .getOrElse(Long.MinValue))
    writePqMarker(spark, path, maxId, m, ksub, dims, residual)
  }

  /**
   * IVF-PQ probe — [[ivfKnnJoinIndexed]] with the in-cell scan on CODES:
   * same cell resolution (flat or two-level, same auto rules), but the
   * candidate pass reads (id, label, codes) from the pruned code
   * partitions — m bytes/vector instead of the 4·dims float vectors —
   * scores by ADC against per-probe lookup tables riding broadcast,
   * keeps the top `rerank` per probe through the bounded [[TopKAgg]],
   * and only those finalists fetch their float vectors (from the same
   * pruned lists partitions) for the exact-cosine rescore. Self-matches
   * are excluded like the plain probe. Refuses loudly when the sidecar
   * is missing or stale (marker max-id mismatch with the csums marker)
   * — a silent partial scan would just drop the newest documents.
   */
  def ivfPqKnnJoinIndexed(spark: SparkSession, path: String,
                          probes: DataFrame, idCol: String, vecCol: String,
                          labelCol: String, k: Int, nProbe: Int = 2,
                          rerank: Int = 100, superProbe: Int = -1,
                          superBits: Int = 4,
                          superOffset: Int = 32): DataFrame = {
    recoverIvfTables(spark, path)
    val pqm = readPqMarker(spark, path).getOrElse(throw new
      IllegalStateException(s"ivfPqKnnJoinIndexed: no valid PQ sidecar " +
        s"under $path — run addPqToIvfIndex (or re-add after a retrain)"))
    val (pqMaxId, m, ksub, dims, residual) = pqm
    readCsumsMarker(spark, path).foreach { case (idxMaxId, _, _, _) =>
      require(idxMaxId == pqMaxId,
        s"PQ sidecar is STALE under $path (index max id $idxMaxId, " +
          s"sidecar $pqMaxId) — run addPqToIvfIndex to rebuild")
    }
    val sd = dims / m
    val centers = spark.read.parquet(s"$path/centers")
    lazy val nCells = parquetRowCount(spark, s"$path/centers")
    val resolvedNProbe =
      if (nProbe >= 0) nProbe else resolveNProbe(nCells, nProbe)
    val resolvedSuper =
      if (superProbe >= 0) superProbe
      else probeSuperWidth(nCells, superProbe, superBits, resolvedNProbe)
    val probedCells =
      if (resolvedSuper > 0)
        probedCellsTwoLevel(centers, probes, resolvedNProbe, resolvedSuper,
          superBits, superOffset)
      else probedCellsFor(centers, probes, resolvedNProbe)
    if (!hasParquetData(spark, s"$path/lists"))
      return probes.select(col("probe_id")).limit(0)
        .withColumn("rank", lit(0).cast("int"))
        .withColumn("neighbor_id", lit(0L))
        .withColumn("cos", lit(0.0))
    val cellKeys = probedCells.select(col("__cell").cast("string"))
      .distinct().collect().map(_.getString(0))
    val cb = spark.read.parquet(s"$path/pq/codebooks")
    // per-probe ADC tables joined onto the probed cells — one tiny
    // broadcast frame carries (probe_id, __cell, __pv, __pn, __lut)
    val luts = probes.crossJoin(broadcast(pqFlat(cb)))
      .select(col("probe_id"),
        flatten(transform(sequence(lit(0), lit(m - 1)), j =>
          transform(sequence(lit(0), lit(ksub - 1)), c =>
            aggregate(
              zip_with(pqSub(col("__pv"), j, sd),
                slice(col("__cb"), (j * ksub + c) * sd + 1, lit(sd)),
                (a, b) => a * b),
              lit(0.0), (acc, x) => acc + x)))).as("__lut"))
    // residual mode: the ADC score decomposes dot(p, vec) ≈
    // dot(p, snapshotCenter(cell)) + dot(p, decodedResidual) — the
    // first term is ONE scalar per (probe, cell) joined from the
    // snapshot (cells born after it carry raw-vector codes and a zero
    // center-dot, matching the encode-side fallback exactly), the
    // second the same m LUT lookups as raw mode
    val probedLuts = broadcast(
      if (!residual) probedCells.join(luts, Seq("probe_id"))
      else probedCells.join(luts, Seq("probe_id"))
        .join(spark.read.parquet(s"$path/pq/centers")
          .select(col("__cell"), col("__center")), Seq("__cell"), "left")
        .withColumn("__cdot",
          coalesce(dot(col("__center"), col("__pv")), lit(0.0)))
        .drop("__center"))
    val codes = spark.read.parquet(s"$path/pq/codes")
      .filter(col("__cellkey").isin(cellKeys.toIndexedSeq: _*))
    val lutSum = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, j) => acc +
        element_at(col("__lut"), (j * ksub + element_at(col("codes"), j + 1))
          .cast("int") + 1))
    val approx = if (residual) col("__cdot") + lutSum else lutSum
    val winners = codes
      .join(probedLuts, codes(labelCol) === probedLuts("__cell"))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol), approx.as("__approx"))
      .groupBy(col("probe_id"))
      .agg(TopKAgg(col("__approx"), col(idCol).cast("long"), rerank)
        .as("__top"))
      .select(col("probe_id"), explode(col("__top")).as("__e"))
      .select(col("probe_id"), col("__e.id").as(idCol))
    val lists = spark.read.parquet(s"$path/lists")
      .filter(col("__cellkey").isin(cellKeys.toIndexedSeq: _*))
      .select(col(idCol).cast("long").as(idCol), col(vecCol), col("__cn"))
    val probeNorms = broadcast(probes
      .select(col("probe_id"), col("__pv"), norm(col("__pv")).as("__pn")))
    emitTopK(
      winners.join(lists, Seq(idCol))
        .join(probeNorms, Seq("probe_id"))
        .select(col("probe_id"), col(idCol),
          (dot(col(vecCol), col("__pv")) /
            (col("__cn") * col("__pn"))).as("cos"))
        .filter(!isnan(col("cos"))),
      idCol, k)
  }

  /**
   * Batch PQ kNN join over PRE-TRAINED artifacts — the steady-state
   * production form ([[pqTopK]] is the train-in-query contract twin):
   * `codes` is a persisted [[pqEncode]] output (m bytes/vector instead
   * of 4·dims — the scan that makes a 100 TB corpus fit the page
   * cache), `codebooks` a [[pqTrain]] output. Per probe one ADC lookup
   * table rides along broadcast; the corpus CODES are scanned once
   * scoring every (candidate, probe) narrowly; the per-probe top
   * `rerank` reduce through the bounded [[TopKAgg]]; only rerank·probes
   * rows fetch their float vectors for the exact-cosine rescore.
   * Returns (probe_id, rank, neighbor_id, cos) like [[knnJoinWith]].
   */
  def pqKnnJoin(df: DataFrame, codes: DataFrame, codebooks: DataFrame,
                probes: DataFrame, idCol: String, vecCol: String,
                k: Int, rerank: Int = 30, m: Int = 8, ksub: Int = 16,
                dims: Int = 64, excludeSelf: Boolean = false): DataFrame = {
    val sd = dims / m
    val luts = probes.crossJoin(broadcast(pqFlat(codebooks)))
      .select(col("probe_id"),
        flatten(transform(sequence(lit(0), lit(m - 1)), j =>
          transform(sequence(lit(0), lit(ksub - 1)), c =>
            aggregate(
              zip_with(pqSub(col("__pv"), j, sd),
                slice(col("__cb"), (j * ksub + c) * sd + 1, lit(sd)),
                (a, b) => a * b),
              lit(0.0), (acc, x) => acc + x)))).as("__lut"))
    val approx = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, j) => acc +
        element_at(col("__lut"), (j * ksub + element_at(col("codes"), j + 1))
          .cast("int") + 1))
    val cand = spread(codes).crossJoin(broadcast(luts))
      .filter(if (excludeSelf) col(idCol) =!= col("probe_id") else lit(true))
      .select(col("probe_id"), col(idCol), approx.as("__approx"))
      .groupBy(col("probe_id"))
      .agg(TopKAgg(col("__approx"), col(idCol).cast("long"), rerank)
        .as("__top"))
      .select(col("probe_id"), explode(col("__top")).as("__e"))
      .select(col("probe_id"), col("__e.id").as(idCol))
    emitTopK(
      cand.join(df.select(col(idCol).cast("long").as(idCol), col(vecCol)),
        Seq(idCol))
        .join(probes, Seq("probe_id"))
        .select(col("probe_id"), col(idCol),
          cosine(col(vecCol), col("__pv")).as("cos"))
        .filter(!isnan(col("cos"))),
      idCol, k)
  }
}
