package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines (SURVEY §2.6):
 * exact, MinHash+LSH, SimHash, and exact n-gram-Jaccard.
 *
 * Scale design:
 *  - exact dedup is one hash-partitioned groupBy on the content hash —
 *    map-side partial aggregation, single shuffle keyed by a 128-bit hash,
 *    uniformly distributed (no skew by construction).
 *  - MinHash-LSH is the 100 TB near-dup path: per-document signatures are
 *    narrow map work (ONE md5 per shingle; the hash family is affine
 *    transforms of that one digest, so adding hash functions is ~free);
 *    candidate generation shuffles only (band, key) pairs (docs × bands
 *    rows, NOT docs² pairs); the exact-Jaccard verify runs only on
 *    candidates. This is the shingle→minhash→band→bucket-join pipeline of
 *    Broder-style near-dup detection.
 *  - SimHash is computed relationally (explode shingles → 24 conditional
 *    sums → bits), one md5 per shingle, one map-side-combinable shuffle.
 *  - n-gram-Jaccard "exact" mode uses an inverted shingle index join (pairs
 *    that share ≥1 shingle), not a cross join — still superlinear in the
 *    worst case, which is why LSH is the default at scale.
 */
object Dedup {

  /** 28-bit integer hash of a shingle: prefix of its md5. One digest per
    * shingle; all derived hash functions reuse it. Native codegen'd
    * expression ([[Md5Prefix28]]) — value-identical to
    * `conv(substring(md5(s), 1, 7), 16, 10)`, which the oracles use. */
  private def hash28(s: Column): Column = Md5Prefix28(s)

  // Affine hash family over hash28: h_i(x) = (A(i)·x + B(i)) mod P.
  // P is the Mersenne prime 2^31-1; A·x stays well under 2^63.
  val P = 2147483647L
  private val A = Seq(1299721L, 15485863L, 32452843L, 49979687L,
    67867967L, 86028121L, 104395301L, 122949823L)
  private val B = Seq(104729L, 1299709L, 15485857L, 32452841L,
    49979693L, 67867979L, 86028157L, 104395303L)

  private def affine(i: Int, x: Column): Column =
    pmod(lit(A(i)) * x + lit(B(i)), lit(P))

  /** SQL rendering of the same family for the DuckDB oracles. */
  def affineSql(i: Int, x: String): String =
    s"(${A(i)} * $x + ${B(i)}) % $P"

  def hash28Sql(s: String): String =
    s"CAST('0x' || substring(md5($s), 1, 7) AS BIGINT)"

  /** 60-bit md5 prefix — wide enough that hash-level set arithmetic is
    * collision-free in practice (P[any collision across a pair's shingle
    * sets] ≈ |A|·|B| / 2^60). Same builtin-only chain as the commutative
    * checksum's 60-bit xor slice (Checksum.scala), DuckDB twin below. */
  private[graft] def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  def hash60Sql(s: String): String =
    s"CAST('0x' || substring(md5($s), 1, 15) AS BIGINT)"

  /**
   * Exact dedup: group by content hash, keep the smallest id as the
   * representative, count the copies.
   */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("copies"))

  /**
   * Dedup by CANONICAL URL ([[TextClean.canonicalizeUrl]]) keeping the
   * best-quality document per canonical key — the crawl-corpus pass
   * that collapses re-encoded links (tracking params, fragments, host
   * case, default ports) to one kept copy. "Best" = highest
   * `qualityCol`, ties to the smallest id (deterministic). Returns one
   * row per canonical URL: (canonical_url, idCol = the keeper, n_dups).
   *
   * Scale shape: the canonicalization is a narrow scan-speed map; the
   * keep-best is ONE hash shuffle on the canonical key (a min/max-style
   * struct agg, map-side combinable — no window over the whole corpus,
   * no skew beyond genuinely hot URLs, which salting handles upstream
   * if a single URL dominates a shard).
   */
  def byCanonicalUrl(df: DataFrame, urlCol: String, qualityCol: Column,
                     idCol: String): DataFrame =
    df.select(TextClean.canonicalizeUrl(col(urlCol)).as("canonical_url"),
        col(idCol), qualityCol.as("__q"))
      .groupBy(col("canonical_url"))
      // max over (quality ASC, id DESC as -id): picks highest quality,
      // then SMALLEST id — a struct-ordering agg instead of a window,
      // so the pass stays one shuffle with partial aggregation
      .agg(
        max(struct(col("__q"), (-col(idCol)).as("__nid")))
          .getField("__nid").as("__keep"),
        count(lit(1)).as("n_dups"))
      .select(col("canonical_url"), (-col("__keep")).as(idCol),
        col("n_dups"))

  /**
   * Per-document MinHash signature: minima of `numHashes` affine hashes of
   * the 28-bit shingle digests, computed in each row (no shuffle); a doc
   * with no shingles has no row. Returns (idCol, m0..m{n-1}) as longs.
   */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 8): DataFrame =
    df.select(col(idCol), ShingleHash.h28(col(textCol)).as("__hh"))
      .filter(size(col("__hh")) > 0)
      .select(col(idCol) +: minhashes(col("__hh"), numHashes)
        .zipWithIndex.map { case (m, i) => m.as(s"m$i") }: _*)

  /** The first `n` MinHash minima of a row's shingle digests, computed in
    * the row: no explode, no shuffle. */
  private def minhashes(hh: Column, n: Int): Seq[Column] =
    (0 until n).map(i => array_min(transform(hh, x => affine(i, x))))

  /**
   * MinHash-LSH candidate pairs: r=2 rows per band (band key = md5 of two
   * concatenated minima), `numBands` bands. Pairs sharing ≥1 band key are
   * candidates. P(candidate) = 1-(1-j²)^b — steep around j≈0.7 for b=4.
   */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
                    numBands: Int = 4): DataFrame =
    candidatePairs(withBandKeys(df.select(col(idCol), col(textCol)),
      ShingleHash.h28(col(textCol)), numBands), idCol, None)
      .select("doc_a", "doc_b")

  /** (id, band, bkey) LSH keys for precomputed shingle sets — the unit the
   *  streaming dedup accumulates as its admitted-corpus index. A set with
   *  no shingles has no keys. */
  def bandKeysFromSets(sets: DataFrame, idCol: String,
                       numBands: Int = 4): DataFrame =
    withBandKeys(sets, transform(col("sset"), s => hash28(s)), numBands)
      // _outer: a plain posexplode would make the optimizer add a
      // non-empty filter that recomputes every key below this projection
      .select(col(idCol), posexplode_outer(col("bkeys")).as(Seq("band", "bkey")))
      .filter(col("bkey").isNotNull)

  /** `df` plus `bkeys`: the `numBands` LSH band keys (band key = md5 of
    * two concatenated minima) of the shingle digests `hh`, computed in
    * the row — no explode, no shuffle. Null when there are no shingles:
    * no keys, so never a candidate. */
  private def withBandKeys(df: DataFrame, hh: Column,
                           numBands: Int): DataFrame = {
    // `hh` in its own projection: taken once, not once per minimum
    val m = minhashes(col("__hh"), numBands * 2)
    df.withColumn("__hh", hh)
      .withColumn("bkeys", when(size(col("__hh")) > 0,
        array((0 until numBands).map(i =>
          md5(concat_ws("|", m(2 * i), m(2 * i + 1)))): _*)))
      .drop("__hh")
  }

  /** Shingle sets (id, sset) — shared shape between batch and streaming. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextFns.shingles(col(textCol)).as("sset"))

  /** `df` signed once for the near-dup cascade: its columns plus `sset`
    * (the shingle set of `textCol`) and `bkeys` ([[withBandKeys]], the
    * digests straight from the text bytes — [[ShingleHash]] equals
    * hashing each shingle of `sset`). */
  private[graft] def signed(df: DataFrame, textCol: String): DataFrame =
    withBandKeys(df.withColumn("sset", TextFns.shingles(col(textCol))),
      ShingleHash.h28(col(textCol)), 4)

  /**
   * MinHash-LSH near-dup pairs, verified: [[nearDupPairs]] over every
   * document — band-key candidates, then exact shingle-Jaccard on the
   * candidates only; keep >= minJaccard. The signed docs are lazily
   * localCheckpoint'ed: they feed the key join AND both sides of the
   * verify, and Spark has no cross-branch CSE.
   */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   minJaccard: Double = 0.8): DataFrame =
    nearDupPairs(signed(df.select(col(idCol), col(textCol)), textCol)
      .drop(textCol).localCheckpoint(false), idCol, minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jac"))

  /** Band-key candidates of [[nearDupPairs]]: (doc_a, doc_b, prior),
    * distinct. `signed`'s keys join ONCE against its own keys (doc_a <
    * doc_b) and `priorKeys` (idCol, band, bkey; prior = true). */
  private def candidatePairs(signed: DataFrame, idCol: String,
                             priorKeys: Option[DataFrame]): DataFrame = {
    def side(d: DataFrame, name: String, isPrior: Boolean) =
      d.select(col(idCol).as(name), col("band"), col("bkey"),
        lit(isPrior).as("prior"))
    val keys = signed.select(col(idCol),
      posexplode(col("bkeys")).as(Seq("band", "bkey")))
    val others = priorKeys.fold(side(keys, "doc_b", false))(p =>
      side(keys, "doc_b", false).unionByName(side(p, "doc_b", true)))
    side(keys, "doc_a", false).drop("prior")
      .join(others, Seq("band", "bkey"))
      .filter(col("prior") || col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "prior").distinct()
  }

  /**
   * The near-dup probe of the cascade — one implementation behind
   * [[minhashDedup]], [[nearDupClusters]] and the streaming dedup epoch
   * (`StreamOps.dedupEpoch`). `signed` holds (idCol, sset, bkeys) rows
   * ([[signed]]); cache or checkpoint it, it feeds both sides.
   *
   * The signed docs' band keys join ONCE against their own keys and,
   * when `prior` is given, the prior docs' keys (idCol, band, bkey) —
   * the admitted corpus of a stream. The candidate pairs then verify
   * exact Jaccard ONCE against the signed sets and the prior sets. The
   * prior sets come from `prior`'s second member, called with the prior
   * candidate ids (one column, idCol) so it can read only what they
   * need; the candidates are checkpointed for that read.
   *
   * Returns (doc_a, doc_b, jac, prior): doc_a a signed id; doc_b a
   * signed id above doc_a, or (prior = true) a prior id.
   */
  private[graft] def nearDupPairs(
      signed: DataFrame, idCol: String, minJaccard: Double,
      prior: Option[(DataFrame, DataFrame => DataFrame)] = None)
      : DataFrame = {
    val cand0 = candidatePairs(signed, idCol, prior.map(_._1))
    def sets(d: DataFrame, isPrior: Boolean) =
      d.select(col(idCol).as("doc_b"), col("sset").as("sb"),
        lit(isPrior).as("prior"))
    val (cand, setsB) = prior match {
      case None => (cand0, sets(signed, false))
      case Some((_, priorSets)) =>
        val c = cand0.localCheckpoint(false)
        (c, sets(signed, false).unionByName(sets(priorSets(
          c.filter(col("prior")).select(col("doc_b").as(idCol))), true)))
    }
    cand
      .join(signed.select(col(idCol).as("doc_a"), col("sset").as("sa")),
        "doc_a")
      .join(setsB, Seq("doc_b", "prior"))
      .withColumn("jac",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))))
      .filter(col("jac") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jac"), col("prior"))
  }

  /**
   * Hex characters whose nibble has bit (8 >> maskIdx) set — the per-bit
   * membership tables for SimHash bit extraction. Bit j of a signature
   * reads hex digit j%32 of the shingle md5 against table j/32, so up to
   * 128 signature bits derive from ONE digest. Public because the DuckDB
   * oracles generate the identical CASE tables from it.
   */
  val simhashBitChars: Seq[Seq[String]] = Seq(
    Seq("8", "9", "a", "b", "c", "d", "e", "f"), // nibble bit 8
    Seq("4", "5", "6", "7", "c", "d", "e", "f"), // nibble bit 4
    Seq("2", "3", "6", "7", "a", "b", "e", "f"), // nibble bit 2
    Seq("1", "3", "5", "7", "9", "b", "d", "f")) // nibble bit 1

  /**
   * Relational SimHash signatures: explode shingles, hash each ONCE, then
   * `bits` conditional ±1 sums (bit j reads hex digit j%32 of the shingle
   * md5 against [[simhashBitChars]] table j/32); signature bit j set when
   * the sum is positive. One map-side-combinable shuffle on the doc id.
   * The signature column is INT for bits ≤ 31 (back-compatible) and LONG
   * beyond — wide signatures are what keep the block-LSH buckets selective
   * at corpus scale (see [[simhashNearPairs]]).
   */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        bits: Int = 24): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits=$bits out of range")
    // ONE native digest+bit-extract per shingle (Md5SignBits) instead of
    // `bits` substring/IN predicates over a materialized hex string —
    // this is the hottest row stream of the simhash family
    val sh = df.select(col(idCol),
      explode(TextFns.shingles(col(textCol))).as("s"))
      .withColumn("sb", Md5SignBits(col("s"), bits))
    val sums = sh.groupBy(col(idCol)).agg(
      sum(bitTerm(0)).as("s0"),
      (1 until bits).map(j => sum(bitTerm(j)).as(s"s$j")): _*)
    sums.select(col(idCol),
      (0 until bits).map(j =>
        when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).cast(if (bits <= 31) "int" else "long").as("simhash"))
  }

  // ±1 from bit j of the per-shingle sign-bit word
  private def bitTerm(j: Int): Column =
    shiftright(col("sb"), j).bitwiseAND(lit(1L)) * 2 - 1

  /** SimHash bucket pairs: documents sharing an identical signature. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = simhashSignatures(df, idCol, textCol)
    val a = sh.select(col(idCol).as("doc_a"), col("simhash"))
    val b = sh.select(col(idCol).as("doc_b"), col("simhash"))
    a.join(b, "simhash").filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("simhash"))
  }

  /**
   * SimHash near-pairs within hamming distance `maxHamming` — pigeonhole
   * block LSH: the signature splits into maxHamming+1 equal blocks, and
   * any pair within distance k must agree EXACTLY on at least one block
   * (k flipped bits cannot touch all k+1 blocks). Candidates join on
   * (block, value) — never the doc² pair space — then the exact
   * `bit_count(xor)` verifies. The standard scalable form of "similar
   * simhash" retrieval; [[simhashPairs]] is the maxHamming=0 special case.
   *
   * Scale sizing: each block has 2^(bits/(k+1)) buckets, so the
   * bucket-local pair space is O(n²/2^width) per block — with the 24-bit
   * default (8-bit blocks) buckets saturate beyond ~10^5 docs (10× probe:
   * 10.3 s at 50k docs). At corpus scale use a wide signature, e.g.
   * bits=48 with maxHamming=2 (16-bit blocks, 65k buckets per block —
   * long-typed signatures support up to 63 bits from the same single
   * md5 digest).
   */
  def simhashNearPairs(df: DataFrame, idCol: String, textCol: String,
                       maxHamming: Int = 2, bits: Int = 24): DataFrame =
    hammingNearPairs(simhashSignatures(df, idCol, textCol, bits),
      idCol, "simhash", maxHamming, bits)

  /**
   * Generic pigeonhole near-pair join over ANY integer hash column —
   * the machinery [[simhashNearPairs]] describes, factored out so every
   * hamming-space near-dup (text simhash, perceptual image dHash) shares
   * one implementation. Full-width 64-bit hashes are supported: block
   * extraction uses an UNSIGNED shift so a set sign bit lands in the top
   * block's value instead of smearing through an arithmetic shift.
   */
  def hammingNearPairs(sig: DataFrame, idCol: String, hashCol: String,
                       maxHamming: Int, bits: Int): DataFrame = {
    val blocks = maxHamming + 1
    require(bits >= 1 && bits <= 64, s"bits=$bits out of range")
    require(bits % blocks == 0,
      s"bits=$bits must divide into maxHamming+1=$blocks equal blocks")
    val width = bits / blocks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val keyed = sig.select(col(idCol), col(hashCol).cast("long").as("__sig"),
      posexplode(array((0 until blocks).map(b =>
        shiftrightunsigned(col(hashCol).cast("long"), b * width)
          .bitwiseAND(lit(mask))): _*)).as(Seq("blk", "bval")))
    val a = keyed.select(col(idCol).as("doc_a"), col("__sig").as("__sa"),
      col("blk"), col("bval"))
    val b = keyed.select(col(idCol).as("doc_b"), col("__sig").as("__sb"),
      col("blk"), col("bval"))
    a.join(b, Seq("blk", "bval"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(__sa ^ __sb)").cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Full dedup cascade → cluster assignment per document. This is the
   * operator a training-data pipeline actually runs to DROP duplicates:
   *
   *  1. exact dedup: identical texts collapse to one representative
   *     (cheap hash groupBy — at web scale this removes the bulk);
   *  2. near-dup pairs between representatives (MinHash-LSH + exact
   *     Jaccard verify — the expensive step now runs on unique texts);
   *  3. connected components over the near-dup graph (iterative min-label
   *     propagation; near-dup clusters are small cliques, so convergence
   *     takes O(cluster diameter) ≈ 2-3 rounds);
   *  4. every document (including exact copies) maps to its cluster's
   *     minimum doc id — keep rows where doc_id == cluster_id, drop the
   *     rest.
   *
   * Returns (idCol, cluster_id).
   */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      minJaccard: Double = 0.8,
                      maxIterations: Int = 10): DataFrame = {
    // 1. exact groups: every doc → representative (min id of its text)
    val docToRep = exactGroups(df.select(col(idCol), col(textCol)), idCol,
      textCol)

    // 2. near-dup pairs between representatives only, signed once
    val reps = signed(docToRep.filter(col(idCol) === col("__rep"))
      .select(col(idCol), col(textCol)), textCol).drop(textCol)
      .localCheckpoint(false)
    val pairs = nearDupPairs(reps, idCol, minJaccard)
      .select(col("doc_a"), col("doc_b"))

    // 3. connected components over the pair graph
    val labels = connectedComponents(pairs, maxIterations)

    // 4. every doc resolves through its representative: edge-connected
    // reps carry their propagated label, singleton reps label themselves;
    // exact copies inherit whatever their representative resolved to
    docToRep.join(labels, docToRep("__rep") === labels("node"), "left")
      .select(col(idCol),
        coalesce(col("label"), col("__rep")).as("cluster_id"))
  }

  /** `df` plus `__rep`, the smallest id among the rows with the same text
    * (by md5) — the cascade's exact-dup step, one shuffle on the digest,
    * every row kept. A row is its group's representative iff its id is
    * `__rep`. */
  private[graft] def exactGroups(df: DataFrame, idCol: String,
                                 textCol: String): DataFrame =
    df.withColumn("__rep", min(col(idCol)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(md5(col(textCol)))))

  /** Verified pairs a cascade collects to the driver for union-find;
    * beyond this many it labels components distributed. */
  private[graft] val DriverEdgeLimit = 1000000L

  /** Union-find over an undirected edge list: node → the minimum node of
    * its component, for every node on an edge except the minimums (a
    * component's minimum labels itself and has no entry). The root is
    * always the component minimum, so the labels do not depend on edge
    * order. */
  private[graft] def componentLabels(edges: Iterable[(Long, Long)])
      : Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /**
   * Connected components over an undirected edge list (doc_a, doc_b) →
   * (node, label) with label = the component's minimum node id.
   *
   * The edge set is tiny relative to the corpus (only verified near-dup
   * pairs), so ONE bounded collect (`driverEdgeLimit` + 1 rows) decides
   * the branch: an edge list within the limit is already on the driver,
   * where union-find ([[componentLabels]]) labels it exactly — one
   * broadcast join, no iteration overhead. Graphs bigger than
   * `driverEdgeLimit` fall back to distributed min-label
   * propagation with pointer doubling (each round: one neighbor-min hop,
   * then label ← label-of-label), converging in O(log diameter) rounds,
   * with strict loop hygiene: every iterate is
   * `localCheckpoint`ed (truncated lineage — no plan-depth blowup across
   * iterations) and the superseded iterate's backing RDD is unpersisted
   * as soon as the next one is materialized, so storage stays O(1) in the
   * iteration count.
   */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 10,
                          driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.limit(
      math.min(driverEdgeLimit + 1, Int.MaxValue.toLong).toInt).collect()
    if (edges.length <= driverEdgeLimit) {
      val resolved = componentLabels(
        edges.map(r => (r.getLong(0), r.getLong(1)))).toSeq
      import spark.implicits._
      broadcast(resolved.toDF("node", "label"))
    } else {
      // localCheckpoint (eager) materializes AND truncates lineage; the
      // LogicalRDD backing lets us release the superseded iterate
      // deterministically instead of waiting for GC-driven cleanup.
      import org.apache.spark.sql.execution.LogicalRDD
      def backingRdd(d: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
        d.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      val edges = pairs.unionByName(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .localCheckpoint()
      var ls = edges.select(col("doc_a").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
        .localCheckpoint()
      var converged = false
      var i = 0
      while (!converged && i < maxIterations) {
        // one neighbor-min step (propagates labels one hop)...
        val neighborMin = edges
          .join(ls, edges("doc_b") === ls("node"))
          .groupBy(col("doc_a").as("node0"))
          .agg(min(col("label")).as("nmin"))
        val stepped = ls.join(neighborMin, ls("node") === col("node0"), "left")
          .select(col("node"), least(col("label"),
            coalesce(col("nmin"), col("label"))).as("label"))
          .localCheckpoint() // both sides of the shortcut self-join below
                             // must read ONE materialization
        // ...then pointer doubling (label ← label-of-label): the reach
        // roughly doubles every round, d_{k+1} = 2(d_k + 1), so a path of
        // diameter D converges in ~log2(D) rounds instead of D — a
        // component's diameter exceeding maxIterations can no longer
        // yield partial labels for any graph of plausible size
        // (10 rounds cover diameter ≈ 2000).
        val next = stepped.alias("a")
          .join(stepped.select(col("node").as("__ln"),
            col("label").as("__ll")).alias("b"),
            col("a.label") === col("__ln"), "left")
          .select(col("a.node").as("node"), least(col("a.label"),
            coalesce(col("__ll"), col("a.label"))).as("label"))
          .localCheckpoint() // eager: materialized before the old ls goes away
        val changed = next.alias("n").join(ls.alias("o"), "node")
          .filter(col("n.label") =!= col("o.label")).limit(1).count()
        backingRdd(stepped).foreach(_.unpersist(false))
        backingRdd(ls).foreach(_.unpersist(false))
        ls = next
        converged = changed == 0
        i += 1
      }
      backingRdd(edges).foreach(_.unpersist(false))
      if (!converged)
        System.err.println(
          s"[graft] connectedComponents: label propagation did not converge " +
            s"in $maxIterations doubling iterations — a component with " +
            s"diameter > ~2^$maxIterations exists and its cluster ids are " +
            "PARTIAL; raise maxIterations")
      ls
    }
  }

  /**
   * Exact n-gram-Jaccard near-dup pairs via an inverted shingle index.
   * Candidate generation joins on 28-bit shingle hashes (8-byte shuffle
   * keys instead of shingle strings; a rare hash collision can only ADD a
   * candidate, never lose one); the final Jaccard is computed exactly
   * from the full shingle sets of each candidate pair.
   */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   minJaccard: Double = 0.8, minShared: Int = 2): DataFrame =
    verifiedPairs(df, idCol, textCol, minShared) { (sa, sb) =>
      size(array_intersect(sa, sb)).cast("double") /
        size(array_union(sa, sb))
    } { (c, na, nb) =>
      // c counts hash matches WITH multiplicity, so within-doc 28-bit
      // collisions can push it past min(na, nb) — at c = na + nb the raw
      // bound's denominator hits zero (ANSI: DIVIDE_BY_ZERO kills the
      // job; non-ANSI: the pair silently drops despite exact jac 1.0).
      // Clamping to min(na, nb) keeps the UPPER-BOUND invariant airtight:
      // exact |A∩B| <= min(na, nb) and x/(na+nb-x) is increasing, so the
      // clamped bound still dominates the exact score, and the
      // denominator is >= max(na, nb) >= 1. When c <= min(na, nb) — every
      // non-collision case — the clamp is the identity.
      val cEff = least(c, least(na, nb))
      cEff.cast("double") / (na + nb - cEff)
    }("jac", minJaccard)

  /**
   * N-gram CONTAINMENT near-dup pairs: score = |A∩B| / min(|A|,|B|).
   * Catches subset duplication — a document embedded in (or truncated
   * from) a longer one scores ~1.0 here while its Jaccard can be
   * arbitrarily low, so [[ngramJaccard]] never sees it. Same inverted
   * shingle index and candidates-only verify as the Jaccard path.
   */
  def ngramContainment(df: DataFrame, idCol: String, textCol: String,
                       minContainment: Double = 0.9,
                       minShared: Int = 2): DataFrame =
    verifiedPairs(df, idCol, textCol, minShared) { (sa, sb) =>
      size(array_intersect(sa, sb)).cast("double") /
        least(size(sa), size(sb))
    } { (c, na, nb) =>
      c.cast("double") / least(na, nb)
    }("containment", minContainment)

  /**
   * The 100 TB shape of [[ngramJaccard]]: Jaccard computed ENTIRELY from
   * the 60-bit inverted index — intersection = shared-hash count per
   * pair, set sizes = per-doc hash counts — so no document's shingle
   * array is ever fetched or shuffled (the exact-verify path still ships
   * every candidate pair's full sets through two joins). The checksum
   * family's precedent applies: [[ngramJaccard]] is the string-exact
   * anchor, this is the scale variant, and both are oracle-checked.
   * At 60 bits a collision (which could only nudge one pair's count by
   * one) has probability ~|A|·|B|/2^60 per pair — vanishing at any
   * realistic shingle-set size.
   */
  def ngramJaccardByHash(df: DataFrame, idCol: String, textCol: String,
                         minJaccard: Double = 0.8,
                         minShared: Int = 2): DataFrame =
    hashPairCounts(df, idCol, textCol, minShared)
      .withColumn("jac", col("__ce").cast("double") /
        (col("__na") + col("__nb") - col("__ce")))
      .filter(col("jac") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jac"))

  /** [[ngramContainment]]'s index-only scale variant; see
    * [[ngramJaccardByHash]]. */
  def ngramContainmentByHash(df: DataFrame, idCol: String, textCol: String,
                             minContainment: Double = 0.9,
                             minShared: Int = 2): DataFrame =
    hashPairCounts(df, idCol, textCol, minShared)
      .withColumn("containment", col("__ce").cast("double") /
        least(col("__na"), col("__nb")))
      .filter(col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("containment"))

  /** Pair (doc_a, doc_b, __c=|A∩B|, __na=|A|, __nb=|B|, __ce) from the
    * 60-bit inverted index alone — hash counts stand in for set
    * arithmetic. `__ce` is the COLLISION-SAFE intersection both score
    * variants must use: `__c` counts hash-join matches with
    * multiplicity, so a (vanishing at 60 bits, but possible) within-doc
    * collision can push it past min(na, nb) — at c = na + nb the
    * Jaccard denominator hits zero (ANSI kills the job) and containment
    * would report > 1.0, both impossible for the exact anchors. Clamped
    * to min(na, nb) the Jaccard denominator is >= max(na, nb) >= 1;
    * below that ceiling — every real case — the clamp is the identity.
    * Emitted HERE so the two consumers cannot drift. */
  private def hashPairCounts(df: DataFrame, idCol: String, textCol: String,
                             minShared: Int): DataFrame = {
    // the index feeds the per-doc sizes AND both sides of the self-join
    // (no cross-branch CSE in Spark) — checkpoint once. ShingleHash.h60
    // == explode(shingles)→hash60 elementwise (bit-parity proven by
    // Round9ShingleProperties + the full oracle run) but never
    // materializes a shingle string
    val inv = df.select(col(idCol),
        explode(ShingleHash.h60(col(textCol))).as("h"))
      .localCheckpoint(false)
    val sizes = inv.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    inv.select(col(idCol).as("doc_a"), col("h"))
      .join(inv.select(col(idCol).as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minShared)
      .join(sizes.select(col(idCol).as("doc_a"), col("__n").as("__na")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("__n").as("__nb")), "doc_b")
      .withColumn("__ce", least(col("__c"), col("__na"), col("__nb")))
  }

  /**
   * Candidates → hash-bound prefilter → exact string verify.
   *
   * `score(setA, setB)` computes the exact verify metric from the full
   * shingle STRING sets (the string-exact anchor the oracles mirror).
   * `bound(c, na, nb)` computes the SAME metric from the 28-bit index
   * alone — shared-hash count `c` and per-doc hash counts `na`/`nb` —
   * and must be an UPPER BOUND on the exact score. That holds for both
   * callers by construction: a shared shingle string always shares its
   * hash (so c ≥ |A∩B|), a 28-bit collision can only ADD to c, and
   * na/nb equal |A|/|B| exactly ([[ShingleHash]] emits one hash per
   * DISTINCT string, collisions included). With bound ≥ exact, filtering
   * candidates at `minScore` on the bound BEFORE fetching string sets
   * drops no pair the exact verify could keep — the output is
   * bit-identical to verifying every candidate — while the verify joins
   * ship string arrays only for near-threshold pairs (measured at
   * sf0.1: 113k candidate pairs → ~500 survivors).
   *
   * INPUT DETERMINISM: `df` is evaluated twice — once for the hash
   * index (candidates), once for the surviving ids' string sets (the
   * verify). Re-checkpointing the corpus TEXT just to fuse the two
   * reads would materialize the whole input (the round-8 shape this
   * replaced stored the strictly larger shingle-string arrays); every
   * caller passes a deterministic parquet/fixture-backed frame, where
   * the two evaluations are identical by construction. A
   * nondeterministic source (rand()-derived ids, an uncheckpointed
   * sample) must be checkpointed BY THE CALLER first.
   */
  private def verifiedPairs(df: DataFrame, idCol: String, textCol: String,
                            minShared: Int)(
      score: (Column, Column) => Column)(
      bound: (Column, Column, Column) => Column)(
      scoreName: String, minScore: Double): DataFrame = {
    // Candidate generation hashes shingle byte-slices NATIVELY
    // ([[ShingleHash]] == explode(shingles)→hash28 elementwise, proven
    // by Round9ShingleProperties + the full oracle run): no corpus-wide
    // shingle-STRING arrays are built or checkpointed any more — the
    // round-8 shape materialized every document's full string shingle
    // set (~n× the token volume) just to feed the inverted index, then
    // kept it alive for the verify joins. Checkpointed (id, long) rows:
    // the index feeds both self-join sides AND the per-doc sizes, and
    // Spark has no cross-branch CSE.
    val inv = df.select(col(idCol),
      explode(ShingleHash.h28(col(textCol))).as("h"))
      .localCheckpoint(false)
    val sizes = inv.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    // candidate generation + bound prefilter run once (checkpoint): the
    // result feeds BOTH the id prune below and the final verify join.
    // The sizes joins are UNHINTED: sizes is one short row per corpus
    // doc — corpus-proportional, so a forced broadcast() would ship the
    // whole corpus's id space through the driver to every executor at
    // 100 TB. AQE broadcasts it when (and only when) it actually fits.
    val cand = inv.select(col(idCol).as("doc_a"), col("h"))
      .join(inv.select(col(idCol).as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter_approx"))
      .filter(col("inter_approx") >= minShared)
      .join(sizes.select(col(idCol).as("doc_a"),
        col("__n").as("__na")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"),
        col("__n").as("__nb")), "doc_b")
      .filter(bound(col("inter_approx"), col("__na"), col("__nb"))
        >= minScore)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(false)
    val candIds = cand.select(col("doc_a").as(idCol))
      .union(cand.select(col("doc_b").as(idCol))).distinct()
    // exact verify compares full shingle STRING sets — built only here,
    // only for bound-surviving ids; checkpointed because both verify
    // joins read them
    val candSets = df.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), TextFns.shingles(col(textCol)).as("sset"))
      .localCheckpoint(false)
    cand
      .join(candSets.select(col(idCol).as("doc_a"), col("sset").as("sa")), "doc_a")
      .join(candSets.select(col(idCol).as("doc_b"), col("sset").as("sb")), "doc_b")
      .withColumn(scoreName, score(col("sa"), col("sb")))
      .filter(col(scoreName) >= minScore)
      .select(col("doc_a"), col("doc_b"), col(scoreName))
  }

  /**
   * Incremental cross-corpus dedup — the batch form of admitting a NEW
   * batch of documents against an EXISTING corpus (the operator an
   * ever-growing training corpus runs on every ingest; the streaming
   * greedy form is [[graft.streaming.StreamOps.nearDupDedupTo]]).
   *
   * Every new document gets a verdict row: its BEST corpus near-dup
   * (highest Jaccard, ties to the lower corpus id) when one clears
   * `minJaccard`, else admitted. Candidates come from a MinHash band-key
   * join between the two corpora — new×corpus pairs never materialize
   * beyond shared LSH buckets — and the best match reduces through the
   * bounded [[TopKAgg]] (k=1), so no per-doc sort or full match list.
   *
   * Returns (idCol, dup_of, jac, admitted).
   */
  def dedupAgainst(newDocs: DataFrame, corpus: DataFrame, idCol: String,
                   textCol: String, minJaccard: Double = 0.8): DataFrame = {
    TopKAgg.requireIntegralId(corpus, idCol, "dedupAgainst")
    val cSets = shingleSets(corpus, idCol, textCol).localCheckpoint(false)
    dedupAgainstTables(newDocs, bandKeysFromSets(cSets, idCol), cSets,
      idCol, textCol, minJaccard)
  }

  /**
   * Persist the cross-corpus dedup index for build-once / probe-many
   * ingest ([[buildIvfIndex]]'s text analogue): every ingest batch
   * otherwise re-shingles, re-hashes, and re-minhashes the ENTIRE
   * admitted corpus — the dominant cost, linear in corpus size, paid
   * per batch. This writes the corpus's band keys (`path/keys`) and
   * shingle sets (`path/sets`) once; [[dedupAgainstIndexed]] then costs
   * only the batch's own shingling plus the bucket-local joins.
   * (The streaming form, [[graft.streaming.StreamOps.nearDupDedupTo]],
   * maintains the same two tables incrementally as its state.)
   */
  def buildDedupIndex(corpus: DataFrame, idCol: String, textCol: String,
                      path: String): Unit = {
    requireFlatIndex(corpus.sparkSession, path)
    TopKAgg.requireIntegralId(corpus, idCol, "buildDedupIndex")
    // EAGER checkpoint: shingling (the corpus-sized cost) runs exactly
    // once, and the two table writes below — independent reads of the
    // materialized sets — overlap instead of serializing (the
    // buildIvfIndex inParallel device; a lazy checkpoint would let the
    // concurrent first actions race its materialization). Crash shape
    // is unchanged: no marker gates the batch build, a half-landed
    // index was inconsistent under either write order, and a re-run
    // overwrites both tables.
    val cSets = shingleSets(corpus, idCol, textCol).localCheckpoint(true)
    Similarity.inParallel(
      () => cSets.write.mode("overwrite").parquet(s"$path/sets"),
      () => bandKeysFromSets(cSets, idCol)
        .write.mode("overwrite").parquet(s"$path/keys"))
  }

  /** The persisted index has one layout: flat `sets` and `keys` tables,
    * or their `__batch=N` epochs under
    * [[graft.streaming.StreamOps.dedupIngestTo]]. A tree holding a
    * `_graft_dedup_layout` marker or `sets_delta`/`keys_delta` tables
    * was written by the removed partitioned layout: a flat read of it
    * misses the delta rows, and a flat write lands beside its
    * `ib=`/`bp=` dirs. Every index entry point refuses such a tree
    * before it reads or writes anything (one glob, no Spark job). */
  private[graft] def requireFlatIndex(spark: org.apache.spark.sql.SparkSession,
                                      path: String): Unit = {
    val pattern = new org.apache.hadoop.fs.Path(path,
      "{_graft_dedup_layout,sets_delta,keys_delta}")
    val fs = pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val found = Option(fs.globStatus(pattern)).toSeq.flatten
      .map(_.getPath.getName).sorted
    require(found.isEmpty,
      s"$path holds ${found.mkString(", ")} from the removed partitioned " +
        s"dedup-index layout: delete $path and rebuild with " +
        "buildDedupIndex / dedupIngestBootstrap")
  }

  /** Heal a crashed compaction of `sets` and `keys` ([[ParquetCompact]]
    * or its epoch consolidation). Appends, epochs and probes run it
    * first: in the window between a compaction's renames the live table
    * is gone, and `mode("append")` would start a fresh one beside the
    * only copy of the corpus. */
  private[graft] def recoverIndexTables(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    Seq("sets", "keys").foreach(t =>
      ParquetCompact.recoverTable(spark, s"$path/$t"))

  /** The `ib=` bucket of an id in the streaming near-dup state's sets
    * ([[graft.streaming.StreamOps.dedupEpoch]]). */
  private[graft] def idBucket(id: Column, buckets: Int): Column =
    pmod(id.cast("long"), lit(buckets.toLong)).cast("int")

  /** Shuffle-task count for a dir-partitioned write: one task per
    * dir where the cluster has the cores (`dirs`, the layout's natural
    * width), the core count where it does not. Keying the hash
    * repartition wider than the cluster only queues task-commit waves
    * (a fixed 256 on a 32-core box is ~8 commit waves of pure latency),
    * while fewer tasks write the SAME one file per touched dir through
    * the sorted dynamic-partition writer. Dir COUNT and dir VALUES are
    * the partition column's alone — probe pruning is unaffected. */
  private[graft] def writeTasks(df: DataFrame, dirs: Int): Int =
    math.max(1, math.min(dirs,
      df.sparkSession.sparkContext.defaultParallelism))

  /** Probe a persisted [[buildDedupIndex]] (or a
    * [[graft.streaming.StreamOps.dedupIngestTo]] tree): identical
    * results to [[dedupAgainst]] on the same corpus (shared
    * candidate/verify core; band keys and shingle sets round-trip
    * exactly through parquet). The probe joins the batch's band keys
    * against the whole `keys` table. */
  def dedupAgainstIndexed(spark: org.apache.spark.sql.SparkSession,
                          path: String, newDocs: DataFrame, idCol: String,
                          textCol: String,
                          minJaccard: Double = 0.8): DataFrame = {
    requireFlatIndex(spark, path)
    recoverIndexTables(spark, path)
    dedupAgainstTables(newDocs, spark.read.parquet(s"$path/keys"),
      spark.read.parquet(s"$path/sets"), idCol, textCol, minJaccard)
  }

  /** [[dedupAgainstIndexed]] over ALREADY-LOADED index tables (corpus
    * band keys, corpus shingle sets) — the shared cross-corpus core:
    * bucket-local candidates, exact-Jaccard verify, best match per new
    * doc; the batch side shingles once (checkpointed). Callers that
    * probe the same frozen index repeatedly (the streaming cross-corpus
    * dedup) load + materialize keys/sets once per query instead of
    * re-listing parquet every micro-batch. */
  def dedupAgainstTables(newDocs: DataFrame, cKeys: DataFrame,
                         cSets: DataFrame, idCol: String, textCol: String,
                         minJaccard: Double = 0.8): DataFrame = {
    val nSets = shingleSets(newDocs, idCol, textCol).localCheckpoint(false)
    val nKeys = bandKeysFromSets(nSets, idCol)
    val cand = nKeys
      .join(cKeys.select(col(idCol).as("__cid"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .select(col(idCol), col("__cid")).distinct()
    verifyBest(newDocs, nSets, cand, cSets, idCol, minJaccard)
  }

  /**
   * APPEND a batch to a persisted [[buildDedupIndex]] — the incremental
   * maintenance an ingest pipeline needs: admitting a batch into the
   * corpus must not rebuild the whole index (51.6 s at 100× vs the
   * batch's own shingling). Both index tables are per-doc independent
   * rows (a doc's shingle set and band keys depend on nothing else), so
   * appending the batch's rows IS the rebuild: append-then-probe is
   * bit-identical to rebuild-then-probe over the grown corpus
   * (Round7OpsSpec proves it). This is the batch twin of the streaming
   * state writes in [[graft.streaming.StreamOps.nearDupDedupTo]] — same
   * two tables, same row shapes, epochless. The batch's rows are
   * appended to `sets` and `keys` directly; [[compactDedupIndex]] folds
   * the accumulated files.
   *
   * Caller contract: batch ids must be new (an id already indexed would
   * shadow itself as its own duplicate at probe time), and appends are
   * not concurrency-safe against a probe in flight on the same path —
   * same single-writer discipline as the streaming state.
   */
  def appendToDedupIndex(batch: DataFrame, idCol: String, textCol: String,
                         path: String): Unit = {
    requireFlatIndex(batch.sparkSession, path)
    recoverIndexTables(batch.sparkSession, path)
    TopKAgg.requireIntegralId(batch, idCol, "appendToDedupIndex")
    val bSets = shingleSets(batch, idCol, textCol).localCheckpoint(false)
    bSets.write.mode("append").parquet(s"$path/sets")
    bandKeysFromSets(bSets, idCol)
      .write.mode("append").parquet(s"$path/keys")
  }

  /** Compact an append-grown dedup index in place: each table to
    * ~`targetFiles` files through [[ParquetCompact]]'s crash-safe staged
    * swap. Rows are untouched, so probe verdicts are too. Returns
    * per-table row counts. */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String,
                        targetFiles: Int = 8): Map[String, Long] = {
    requireFlatIndex(spark, path)
    Seq("sets", "keys").map(t =>
      t -> ParquetCompact.table(spark, s"$path/$t", targetFiles)).toMap
  }

  /** Exact-Jaccard verify + best-match reduce of the cross-corpus probe:
    * (candidate pairs, batch shingle sets, corpus shingle sets) →
    * one verdict row per new doc. */
  private def verifyBest(newDocs: DataFrame, nSets: DataFrame,
                         cand: DataFrame, cSets: DataFrame, idCol: String,
                         minJaccard: Double): DataFrame = {
    val best = cand
      .join(nSets, Seq(idCol))
      .join(cSets.select(col(idCol).as("__cid"), col("sset").as("__cs")),
        Seq("__cid"))
      .withColumn("jac",
        size(array_intersect(col("sset"), col("__cs"))).cast("double") /
          size(array_union(col("sset"), col("__cs"))))
      .filter(col("jac") >= minJaccard)
      .groupBy(col(idCol))
      .agg(TopKAgg(col("jac"), col("__cid").cast("long"), 1).as("__top"))
      .select(col(idCol),
        col("__top").getItem(0).getField("id").as("dup_of"),
        col("__top").getItem(0).getField("score").as("jac"))
    newDocs.select(col(idCol)).join(best, Seq(idCol), "left")
      .withColumn("admitted", col("dup_of").isNull)
  }

  /**
   * Benchmark decontamination — the pass a training pipeline runs so its
   * corpus does not contain the evaluation sets: every TRAIN document is
   * scored by the fraction of its shingles that appear anywhere in the
   * BENCHMARK corpus' shingle universe (GPT-3-style n-gram overlap
   * filtering). Here the benchmark side is a deterministic hash sample of
   * the same table so oracles can reproduce it; in production it is the
   * held-out eval suite.
   *
   * Scale shape: the benchmark n-gram universe is tiny relative to a
   * 100 TB corpus (eval suites are fixed-size) — it broadcasts, so the
   * train side never shuffles its shingles: one scan, a broadcast-hash
   * probe per shingle, and a map-side-combinable count per document.
   * Documents with fewer than 3 words have no shingles and drop out
   * (nothing to test overlap on) — same on the oracle side.
   *
   * Returns (idCol, n_shingles, n_overlap, overlap_frac, contaminated).
   */
  def decontaminate(df: DataFrame, idCol: String, textCol: String,
                    benchPct: Int = 10,
                    maxOverlapFrac: Double = 0.5): DataFrame = {
    require(benchPct >= 0 && benchPct <= 100, s"benchPct=$benchPct")
    val isBench =
      pmod(Md5Prefix28(col(idCol).cast("string")), lit(100L)) < benchPct
    decontaminateAgainst(
      df.filter(!isBench), df.filter(isBench), idCol, textCol, maxOverlapFrac)
  }

  /** The distinct 28-bit shingle-hash universe of a (benchmark) corpus —
    * the broadcast side of decontamination. Small by construction: eval
    * suites are fixed-size regardless of corpus scale. */
  def shingleUniverse(bench: DataFrame, textCol: String): DataFrame =
    bench.select(explode(ShingleHash.h28(col(textCol))).as("h")).distinct()

  /** [[decontaminate]] with an explicit benchmark corpus — the production
    * form: the eval suites live in their own table, not a sample of the
    * training corpus. Same broadcast shingle-universe shape. */
  def decontaminateAgainst(train: DataFrame, bench: DataFrame, idCol: String,
                           textCol: String,
                           maxOverlapFrac: Double = 0.5): DataFrame =
    decontaminateAgainstUniverse(train, shingleUniverse(bench, textCol),
      idCol, textCol, maxOverlapFrac)

  /** [[decontaminateAgainst]] with a PRE-HASHED universe (column `h`) — the
    * form a streaming pass reuses across epochs without re-shingling the
    * benchmark every micro-batch. */
  def decontaminateAgainstUniverse(train: DataFrame, universe: DataFrame,
                                   idCol: String, textCol: String,
                                   maxOverlapFrac: Double = 0.5): DataFrame = {
    val benchH = broadcast(universe.select(col("h")).withColumn("__hit", lit(1)))
    // native shingle-slice hashing: the train-side scan is the corpus
    // term of decontamination, and it no longer allocates shingle strings
    train
      .select(col(idCol), explode(ShingleHash.h28(col(textCol))).as("h"))
      .join(benchH, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__hit") === 1, 1L).otherwise(0L)).as("n_overlap"))
      .withColumn("overlap_frac",
        col("n_overlap").cast("double") / col("n_shingles"))
      .withColumn("contaminated", col("overlap_frac") >= maxOverlapFrac)
  }

  /**
   * Cross-document repeated span detection — the tractable form of
   * exact-substring dedup (Lee et al.'s "Deduplicating Training Data
   * Makes Language Models Better" finds repeated 50-token substrings via
   * a suffix array; a distributed engine gets most of the value from
   * FIXED token windows). Every `win`-token window at stride `stride` is
   * hashed; a span whose hash appears in more than one distinct document
   * is repeated corpus text — boilerplate, license headers, syndicated
   * content, benchmark leakage. Returns
   * `(span_md5, n_docs, min_doc, max_doc)` per repeated span.
   *
   * Recall: with `stride = 1` every repeat of ≥ win tokens is caught
   * (exact recall, one span per token of cost). With `stride > 1`,
   * windows start at multiples of stride in EACH document, so a repeat
   * is caught iff its start offsets agree modulo stride (~1/stride for
   * random alignment — but boilerplate is typically position-stable at
   * offset 0, which always agrees). Choose stride by recall budget.
   *
   * Scale shape: explode ≈ words/stride spans per doc (md5-hashed
   * immediately — raw span text never shuffles), then ONE groupBy on the
   * 128-bit span hash (uniform by construction, no skew) with
   * count_distinct(doc) — Spark plans the distinct as its usual
   * two-phase expand. Output is bounded by the number of REPEATED spans,
   * not the corpus.
   */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    win: Int = 8, stride: Int = 4): DataFrame = {
    require(win > 0 && stride > 0 && stride <= win,
      s"need 0 < stride <= win, got win=$win stride=$stride")
    df.select(col(idCol),
        posexplode(TextFns.chunks(col(textCol), win, win - stride)))
      .filter(col("col.n_tokens") === win) // full windows only
      .select(col(idCol), md5(col("col.chunk")).as("span_md5"))
      .groupBy(col("span_md5"))
      .agg(count_distinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("min_doc"), max(col(idCol)).as("max_doc"))
      .filter(col("n_docs") > 1)
  }

  /**
   * Cross-document repeated-span REMOVAL — the document-REWRITING form
   * of [[repeatedSpans]], the way [[dedupLines]] rewrites lines: every
   * token covered by ANY `win`-token window (at stride `stride`)
   * whose hash appears in ≥ `minDocs` distinct documents is removed,
   * and each document comes back rebuilt from its surviving tokens in
   * original order — (idCol, clean_text, n_tokens_removed). This is
   * the production "exact substring dedup" pass (Lee et al. remove the
   * repeated 50-token substrings they find; detection without removal
   * leaves the boilerplate in the training set).
   *
   * Removal is TOKEN-COVERAGE based: overlapping repeated windows
   * union their covered positions, so a long syndicated passage
   * disappears wholesale rather than leaving stride-boundary slivers.
   * Recall follows [[repeatedSpans]]' stride contract (stride 1 =
   * every ≥ win-token repeat; larger strides catch offset-aligned
   * repeats — boilerplate is typically position-stable).
   *
   * Scale shape: the window explode (≈ words/stride rows, hashed
   * immediately) feeds ONE uniform groupBy for the repeated set; the
   * covered-position explode is bounded by win × repeated-window
   * occurrences; the token explode is corpus-linear; the anti join's
   * key side is (doc, pos) pairs of covered tokens — bounded by the
   * repeated text, not the corpus. No corpus × corpus anywhere. The
   * input is scanned twice (windows + tokens), so it must be
   * deterministic — the [[dedupLines]] contract (parquet-backed frames
   * are; checkpoint anything sampled). A fully-boilerplate document
   * returns clean_text = "" (kept as a row — the caller's quality gate
   * decides).
   */
  def stripRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                         win: Int = 8, stride: Int = 4,
                         minDocs: Int = 2): DataFrame = {
    require(win > 0 && stride > 0 && stride <= win,
      s"need 0 < stride <= win, got win=$win stride=$stride")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // windows with START positions: chunk i at overlap win-stride
    // starts at token i*stride (the repeatedSpans window arithmetic,
    // kept with the position the coverage explode needs); hashed
    // immediately — raw span text never shuffles
    val wins = df.select(col(idCol),
        posexplode(TextFns.chunks(col(textCol), win, win - stride))
          .as(Seq("__ci", "__c")))
      .filter(col("__c.n_tokens") === win) // full windows only
      .select(col(idCol), (col("__ci") * stride).as("__start"),
        md5(col("__c.chunk")).as("__k"))
      .localCheckpoint(false) // feeds the dup set AND the coverage join
    val dup = wins.groupBy(col("__k"))
      .agg(count_distinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__k"))
    // token positions covered by any repeated window, per document
    val covered = wins.join(dup, Seq("__k"))
      .select(col(idCol), explode(sequence(col("__start"),
        col("__start") + lit(win - 1))).as("__pos"))
      .distinct()
    val toks = df.select(col(idCol),
        posexplode(TextFns.words(col(textCol))).as(Seq("__pos", "__tok")))
      .localCheckpoint(false) // feeds the strip AND the totals
    val kept = toks.join(covered, Seq(idCol, "__pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__tok")))),
            e => e.getField("__tok"))).as("clean_text"),
        count(lit(1)).as("__kept"))
    val totals = toks.groupBy(col(idCol)).agg(count(lit(1)).as("__tot"))
    df.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (coalesce(col("__tot"), lit(0L)) - coalesce(col("__kept"), lit(0L)))
          .as("n_tokens_removed"))
  }

  /**
   * Line-level corpus dedup, the document-REWRITING form (the
   * boilerplate-removal pass web-scale training pipelines run before
   * document-level dedup: navigation chrome, cookie banners, and license
   * headers repeat across a domain's pages while the documents
   * themselves are distinct, so document-granular dedup never sees
   * them): every line occurring in at least `minDocs` DISTINCT
   * documents is removed from every document that contains it, and each
   * document comes back rewritten — (idCol, clean_text, n_removed) —
   * with its surviving lines re-joined in original order. Lines shorter
   * than `minLineChars` (blank separators, "1.", stray punctuation) are
   * never treated as duplicates: ubiquitous-but-tiny lines are
   * structure, not boilerplate, and removing them would mangle every
   * document in the corpus.
   *
   * Scale shape: explode to (doc, pos, line) — corpus-linear, like the
   * shingle index — then one line-keyed aggregate finds the duplicated
   * lines, a left-anti join drops them, and one doc-keyed aggregate
   * re-joins survivors (positions make the rebuild order-exact under
   * any partitioning). No corpus × corpus anywhere; the duplicated-line
   * side of the anti join is bounded by the number of REPEATED lines,
   * not the corpus, and AQE picks broadcast when it fits. Join keys are
   * the exact line strings — the string-exact anchor ([[ngramJaccard]]
   * precedent); a hash-keyed variant would shuffle 8-byte keys instead
   * but admit (vanishingly rare) collision-removals.
   *
   * A document whose every line is boilerplate yields clean_text = ""
   * (kept as a row — the caller decides whether empty docs survive, and
   * a downstream [[graft.functions.TextFns.qualityScore]] gate drops
   * them naturally).
   */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 minDocs: Int = 2, minLineChars: Int = 10): DataFrame =
    dedupLinesKeyed(df, idCol, textCol, minDocs, minLineChars, identity,
      materializeKey = false)

  /**
   * [[dedupLines]]'s 100 TB shape ([[ngramJaccardByHash]] precedent):
   * the duplicated-line detection and the strip join key on the 60-BIT
   * HASH of each line instead of the line string, so the line-keyed
   * shuffle and the anti join move 8-byte keys, not line text. A 60-bit
   * collision (P ≈ n_lines² / 2^60 corpus-wide) removes an innocent
   * line along with a true boilerplate line — the standard vanishing
   * trade; the rebuild still uses the exact strings and positions, so
   * everything kept is byte-exact.
   */
  def dedupLinesByHash(df: DataFrame, idCol: String, textCol: String,
                       minDocs: Int = 2, minLineChars: Int = 10): DataFrame =
    dedupLinesKeyed(df, idCol, textCol, minDocs, minLineChars, hash60,
      materializeKey = true)

  /**
   * The FROZEN-TABLE half of [[dedupLinesByHash]] for streaming
   * composition (the Bloom-blocklist pattern): one corpus-linear pass
   * over a REFERENCE corpus yields the 60-bit keys of every line
   * repeated in ≥ `minDocs` distinct documents — the boilerplate set a
   * crawl pipeline strips from every arriving page. Built once before a
   * stream starts; [[stripLinesByKeys]] then rewrites each micro-batch
   * against it statelessly (frozen keys → batches independent → replay
   * idempotent for free).
   *
   * Scale shape: explode + ONE aggregate keyed on the 8-byte line hash
   * (uniform, no skew); output bounded by the number of REPEATED lines,
   * not the corpus.
   */
  def repeatedLineKeys(corpus: DataFrame, idCol: String, textCol: String,
                       minDocs: Int = 2, minLineChars: Int = 10): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    corpus.select(col(idCol),
        explode(split(col(textCol), "\n")).as("__line"))
      .filter(length(col("__line")) >= minLineChars)
      .groupBy(hash60(col("__line")).as("__lk"))
      .agg(count_distinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__lk"))
  }

  /**
   * Rewrite `docs` against a frozen [[repeatedLineKeys]] table: every
   * line whose 60-bit hash is in `lineKeys` is removed, the survivors
   * re-join in original order, `textCol` is REPLACED by the cleaned
   * text, and `n_lines_removed` is appended — all other columns pass
   * through untouched (the streaming prep pipeline carries embeddings
   * beside the text). Against keys built FROM the same docs this is
   * exactly [[dedupLinesByHash]]'s rewrite (spec-pinned); against a
   * reference-corpus table it is the production shape — new pages
   * stripped of known boilerplate without re-scanning the corpus.
   *
   * The anti join's key side is bounded by the repeated-line set, and
   * deliberately un-hinted: AQE broadcasts it when it fits, which at
   * blocklist scale it does.
   *
   * `idCol` is the rebuild key and must be UNIQUE in `docs` (the
   * [[dedupLines]] contract): duplicate ids would merge both copies'
   * lines into one interleaved rebuild. The streaming composition
   * collapses at-least-once redeliveries BEFORE this stage. The input
   * is checkpointed once here — it feeds the exploded lines AND the
   * final doc-row join, and two evaluations of a nondeterministic
   * upstream could pair a doc row with counts from different text.
   */
  def stripLinesByKeys(docs: DataFrame, lineKeys: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val d = docs.localCheckpoint(false)
    // exploded lines feed the strip AND the totals (no cross-branch CSE)
    val lines = d.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__mk", hash60(col("__line")))
      .localCheckpoint(false)
    val kept = lines
      .join(lineKeys, lines("__mk") === lineKeys("__lk"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws("\n",
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__line")))),
            e => e.getField("__line"))).as("__clean"),
        count(lit(1)).as("__kept"))
    val totals = lines.groupBy(col(idCol))
      .agg(count(lit(1)).as("__tot"))
    d.join(totals, Seq(idCol), "left")
      .join(kept, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__clean"), lit("")))
      .withColumn("n_lines_removed",
        coalesce(col("__tot"), lit(0L)) - coalesce(col("__kept"), lit(0L)))
      .drop("__clean", "__tot", "__kept")
  }

  /** Shared core of the two line-dedup forms: `keyOf(line)` is the dup
    * key — the line itself (exact anchor, `materializeKey = false`: the
    * key IS the line, adding a column would shuffle every string twice)
    * or its 60-bit hash (scale, `materializeKey = true`: the md5 folds
    * ONCE into the checkpointed explode instead of once per consumer —
    * measured 33 → 24 s at a 500k-doc corpus). */
  private def dedupLinesKeyed(df: DataFrame, idCol: String, textCol: String,
                              minDocs: Int, minLineChars: Int,
                              keyOf: Column => Column,
                              materializeKey: Boolean): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // the exploded lines feed the dup detection AND the rebuild (no
    // cross-branch CSE in Spark); checkpointed like the shingle index
    val exploded = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val lines = (if (materializeKey)
      exploded.withColumn("__mk", keyOf(col("__line")))
    else exploded).localCheckpoint(false)
    // the materialized key must stay QUALIFIED where a self-join is in
    // play: an unqualified col("__mk") resolves today only because the
    // dup side projects nothing but __k
    def key(c: Column): Column = if (materializeKey) lines("__mk") else keyOf(c)
    val dup = lines
      .filter(length(col("__line")) >= minLineChars)
      .groupBy(key(col("__line")).as("__k"))
      .agg(count_distinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__k"))
    val kept = lines
      .join(dup, key(lines("__line")) === dup("__k"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws("\n",
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__line")))),
            e => e.getField("__line"))).as("clean_text"),
        count(lit(1)).as("__kept"))
    val totals = lines.groupBy(col(idCol))
      .agg(count(lit(1)).as("__tot"))
    // left joins from the input: a fully-boilerplate doc has no kept
    // rows but must still come back (empty, with its removal count)
    df.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (coalesce(col("__tot"), lit(0L)) - coalesce(col("__kept"), lit(0L)))
          .as("n_removed"))
  }
}
