package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Deduplication family for training-data pipelines, built Spark-first:
  *
  *  - exact        — hash-groupBy (map-side partial agg, one shuffle)
  *  - MinHash+LSH  — shingle → minhash signature → band → bucket join →
  *                   exact-Jaccard verify (precision 1.0 by construction;
  *                   recall from (bands, rowsPerBand) — classic S-curve)
  *  - SimHash      — 64-bit token-weight hash, hamming-band candidates
  *  - n-gram Jaccard — exact set similarity via array_intersect/union
  *  - embedding-cosine near-dup — sign-LSH buckets + cosine verify
  *
  * All shuffles are keyed by hash-derived columns (uniform by construction,
  * no skew); candidate generation never materializes the O(n²) pair space.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per normalized-content hash.
    * One hash-aggregate shuffle; at 100 TB this is the cheapest possible
    * exact formulation (no sort, no window over the full table). */
  def exact(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(idCol.as("id"), Hashing.contentHash(textCol).as("contentHash"))
      // null-content rows share the null hash — grouping them would declare
      // distinct null-text documents duplicates of each other (the near-dup
      // paths filter isNotNull for the same reason)
      .where(col("contentHash").isNotNull)
      .groupBy("contentHash").agg(min("id").as("keep_id"), count("*").as("dup_count"))

  /** Distinct character k-shingles of a string, as a column expression
    * (no UDF): substring sweep via transform(sequence(...)). Kept as the
    * SQL-surface illustration; [[minhashPairs]] uses [[shinglesArray]] —
    * the higher-order chain is CodegenFallback and its per-row interpreted
    * sweep dominated q22's verify stage (round 6). */
  def shingles(text: Column, k: Int): Column =
    when(length(text) < k, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(1), length(text) - (k - 1)),
          i => text.substr(i, lit(k)))))

  /** [[shingles]] as a plain sweep — IDENTICAL contents and order to the
    * column form (ascending start offsets, first occurrence kept), returned
    * from one LinkedHashSet pass. Windows are k code points, as Spark's
    * `length`/`substr` count: a supplementary character is one position,
    * never split into its two UTF-16 surrogates. */
  def shinglesArray(text: String, k: Int): Array[String] = {
    if (text == null || text.codePointCount(0, text.length) < k) return Array.empty[String]
    val seen = new java.util.LinkedHashSet[String]()
    var start = 0
    var end = text.offsetByCodePoints(0, k)
    var more = true
    while (more) {
      seen.add(text.substring(start, end))
      more = end < text.length
      if (more) {
        start = text.offsetByCodePoints(start, 1); end = text.offsetByCodePoints(end, 1)
      }
    }
    seen.toArray(new Array[String](seen.size()))
  }

  /** MinHash signature: for seed s, min over shingles of xxhash64(s, shingle).
    * numHashes independent permutation approximations, pure column expr.
    * NOTE: kept for SQL-surface illustration; the pipeline below uses
    * [[minhashBands]] — Catalyst inlines this expression once per hash seed
    * (no CSE on the interpreted higher-order path), which turned 32 hashes
    * into 32 full shingle sweeps per row (observed 140 s for 5.5k docs). */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), s =>
      array_min(transform(shinglesCol, sh => xxhash64(s, sh))))

  private def mix64(z0: Long): Long = graft.util.SplitMix64.mix(z0)

  /** Single-pass minhash banding: rolling polynomial hash over each char
    * k-window (distinct via a hash set), numHashes per-seed mins updated in
    * one sweep, then per-band hashes — O(len + distinct·numHashes) per row.
    */
  def minhashBands(text: String, k: Int, numBands: Int, rowsPerBand: Int): Array[Long] = {
    // null/short texts get NO bands (empty array → dropped by posexplode):
    // emitting the all-MaxValue signature instead would put every tiny doc
    // in ONE shared bucket and blow the candidate self-join up to O(m²)
    // (all discarded later by the exact verify — pure wasted shuffle)
    if (text == null || text.length < k) return Array.empty[Long]
    val numHashes = numBands * rowsPerBand
    val mins = Array.fill(numHashes)(Long.MaxValue)
    // text.length >= k is guaranteed by the early return above
    val seen = new java.util.HashSet[Long]()
    val B = 1000003L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < text.length) {
      h = h * B + text.charAt(i)
      if (i >= k) h -= pow * B * text.charAt(i - k)
      if (i >= k - 1 && seen.add(h)) {
        var s = 0
        while (s < numHashes) {
          val v = mix64(h ^ (s.toLong * 0xa5a5a5a5a5a5a5a5L))
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var acc = 0L
      var r = 0
      while (r < rowsPerBand) { acc = mix64(acc ^ mins(b * rowsPerBand + r)); r += 1 }
      out(b) = acc
      b += 1
    }
    out
  }

  /** LSH banding: (bandId, bandHash) pairs from a signature. */
  def bands(signature: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)), b =>
      struct(b.as("band"),
        xxhash64(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand))).as("bandHash")))

  /** Exact Jaccard of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)).cast("double"))

  /** MinHash+LSH near-dup pairs with exact-Jaccard verification.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    *
    * Plan shape (scale notes):
    *  1. one pass: shingle + signature per row        (narrow, codegen)
    *  2. explode bands → shuffle on (band, bandHash)  (uniform keys)
    *  3. self-join within buckets → candidate pairs   (bucket sizes ≈ dup
    *     cluster sizes, not n — LSH keeps this sparse)
    *  4. dedup candidates, join back both sides' shingles, verify exactly.
    */
  def minhashPairs(df: DataFrame, idCol: Column, textCol: Column,
      shingleK: Int = 5, numBands: Int = 16, rowsPerBand: Int = 2,
      threshold: Double = 0.8): DataFrame = {
    val bandsUdf = udf((t: String) => minhashBands(t, shingleK, numBands, rowsPerBand))
    val base = df.select(idCol.as("id"), textCol.as("text")).where(col("text").isNotNull)
    val banded = base
      .select(col("id"), posexplode(bandsUdf(col("text"))).as(Seq("band", "bandHash")))
    val l = banded.as("l"); val r = banded.as("r")
    val candidates = l.join(r,
        col("l.band") === col("r.band") &&
        col("l.bandHash") === col("r.bandHash") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    // shinglesArray UDF, not the higher-order column chain: identical
    // arrays (see its doc), ~an order of magnitude less per-row work in
    // the exact-verify stage (round 6)
    val shinglesUdf = udf((t: String) => shinglesArray(t, shingleK))
    val sh = base.select(col("id"), shinglesUdf(col("text")).as("sh"))
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Per-token 64-bit hash: first 8 bytes of md5(UTF-8 bytes), big-endian —
    * chosen over xxhash/splitmix because md5 is bit-identical in every
    * engine (Spark, DuckDB, Python), which makes the simhash pipeline
    * oracle-checkable end to end. */
  def tokenHash64(t: String): Long =
    tokenHash64(t, java.security.MessageDigest.getInstance("MD5"))

  /** Digest-reusing overload for per-partition hot loops. */
  def tokenHash64(t: String, md: java.security.MessageDigest): Long = {
    val d = md.digest(t.getBytes("UTF-8")); md.reset()
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** Near-dup RESOLUTION: candidate pairs → (id, keep_id) decisions via
    * min-label propagation (connected components). Each node starts
    * labeled with itself; every iteration takes the min over neighbors —
    * duplicate clusters have tiny diameter, so convergence is fast and the
    * iteration count is bounded. Deterministic: the keeper of a component
    * is its smallest id (matching [[exact]]'s min-id keeper). Each
    * iteration is one shuffle keyed by node id; lineage is truncated per
    * iteration (localCheckpoint) so long chains don't accumulate. Only
    * nodes appearing in some pair are returned (singletons keep
    * themselves trivially). */
  def resolveKeepers(pairs: DataFrame, maxIters: Int = 20,
      /** throw instead of returning a silently-inconsistent labeling when a
        * component's diameter exceeds maxIters (keep_id rows could point at
        * nodes that are themselves remapped). */
      requireConvergence: Boolean = true): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().cache()
    var labels = edges.select($"src".as("id")).distinct()
      .withColumn("label", $"id")
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    // Round-6 iteration shape — one join + one aggregation per round
    // (guide §2.4): a node's next label is min(own label, neighbor
    // labels), expressed as neighbor messages UNIONED with the node's own
    // label row and min-aggregated by id. The old shape (neighbor-min
    // aggregation, then a SECOND join back onto labels) paid an extra
    // shuffle join per iteration for the same fixpoint. Convergence rides
    // a monotonicity invariant instead of a changed-row count: labels
    // only ever DECREASE, so Σ label (exact decimal) is strictly smaller
    // iff any label changed — the per-iteration materializing action is
    // the tiny sum aggregate, which also populates the LAZY checkpoint
    // (eager would spend a separate job on the same partitions).
    var prevSum: java.math.BigDecimal = null
    while (iter < maxIters && !converged) {
      val next = edges
        .join(labels.select($"id".as("dst"), $"label".as("dlabel")), Seq("dst"))
        .select($"src".as("id"), $"dlabel".as("cand"))
        .unionByName(labels.select($"id", $"label".as("cand")))
        .groupBy($"id").agg(min($"cand").as("label"))
        .localCheckpoint(false)
      val sumNow = next.agg(sum($"label".cast("decimal(38,0)")).as("s"))
        .head.getDecimal(0)
      // sum over ZERO rows is null: empty pair sets are converged at once
      converged =
        if (sumNow == null) true
        else prevSum != null && sumNow.compareTo(prevSum) == 0
      prevSum = sumNow
      labels = next
      iter += 1
    }
    edges.unpersist()
    if (requireConvergence && !converged)
      throw new IllegalStateException(
        s"resolveKeepers did not converge in $maxIters iterations " +
          "(a duplicate chain longer than maxIters exists); raise maxIters")
    labels.select($"id", $"label".as("keep_id"))
  }

  /** 64-bit SimHash over whitespace tokens (md5-derived token hash, per-bit
    * majority vote; ties → 0). UDF: per-bit voting isn't expressible as a
    * compact column expression; the UDF runs fully distributed. */
  val simhash64: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (tokens0: Seq[String]) =>
      val tokens = if (tokens0 == null) Seq.empty[String] else tokens0
      val counts = new Array[Int](64)
      val md = java.security.MessageDigest.getInstance("MD5")
      tokens.foreach { t =>
        val h2 = tokenHash64(t, md)
        var b = 0
        while (b < 64) { if (((h2 >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1; b += 1 }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
      out
    }

  /** All 16-bit keys within Hamming distance ≤ `radius` of `key` —
    * enumerated as increasing-index flip combinations, so each key appears
    * exactly once. radius ≤ 3 → ≤ 697 probes. */
  private[graft] def hammingBall(key: Long, bits: Int, radius: Int): Array[Long] = {
    val out = scala.collection.mutable.ArrayBuffer(key)
    def rec(start: Int, left: Int, cur: Long): Unit = if (left > 0) {
      var i = start
      while (i < bits) {
        val nk = cur ^ (1L << i)
        out += nk
        rec(i + 1, left - 1, nk)
        i += 1
      }
    }
    rec(0, radius, key)
    out.toArray
  }

  /** Block count / width / per-block probe radius for a hamming budget:
    * small budgets (≤ 3) band exactly into maxHamming+1 blocks of ≥ 16
    * bits; larger budgets keep 4 × 16-bit blocks and probe each block
    * within radius ⌊maxHamming/4⌋ — multi-index hashing (Norouzi &
    * Punjani & Fleet, "Fast Search in Hamming Space with Multi-Index
    * Hashing", CVPR 2012). Generalized pigeonhole: hamming ≤ h over m
    * blocks ⇒ some block differs by ≤ ⌊h/m⌋. Band keys therefore NEVER
    * narrow below 16 bits — the round-2 scale hazard where maxHamming=7
    * meant 8-bit keys = 256 buckets/band and an O(n²/256) candidate join
    * at 10^9 docs; here buckets stay 2^16/band for ≤ 697 probes/row. */
  private[graft] def simhashBandPlan(maxHamming: Int): (Int, Int, Int) = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming in [0, 15] (probe count explodes beyond), got $maxHamming")
    if (maxHamming <= 3) (maxHamming + 1, 64 / (maxHamming + 1), 0)
    else (4, 16, maxHamming / 4)
  }

  /** (id, sim, band, key) exact band keys + the probe expansion (keys
    * within the per-block radius) — exposed for the bucket-size spec. */
  private[graft] def simhashBanded(hashed: DataFrame, maxHamming: Int)
      : (DataFrame, DataFrame) = {
    val (numBands, bandBits, radius) = simhashBandPlan(maxHamming)
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val exact = hashed.select(col("id"), col("sim"),
      explode(array((0 until numBands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sim"), b * bandBits).bitwiseAND(lit(mask)).as("key"))): _*)).as("b"))
      .select(col("id"), col("sim"), col("b.band"), col("b.key"))
    val probes =
      if (radius == 0) exact
      else {
        val bits = bandBits; val r = radius
        val ball = udf((key: Long) => hammingBall(key, bits, r))
        exact.select(col("id"), col("sim"), col("band"),
          explode(ball(col("key"))).as("key"))
      }
    (exact, probes)
  }

  /** SimHash near-dup pairs: band the 64-bit hash per [[simhashBandPlan]]
    * (exact pigeonhole bands for small budgets, 16-bit multi-index blocks
    * with radius probes for large ones — complete either way), bucket-join
    * exact keys against probe keys, verify hamming exactly. */
  def simhashPairs(df: DataFrame, idCol: Column, textCol: Column,
      maxHamming: Int = 3): DataFrame = {
    // empty/whitespace-only docs get NO bands — split("") is Seq("") (not
    // Python's []), so every failed-extraction row would otherwise hash to
    // ONE identical simhash and form a single O(m²)-pair hot bucket; same
    // degenerate-row convention as minhashBands and signBandKeys.
    // rlike("\\S"), not trim =!= "": Spark's trim strips ONLY 0x20 spaces,
    // so a tab/newline-only doc would slip through a trim-based guard
    val hashed = df.where(textCol.isNotNull && textCol.rlike("\\S"))
      .select(idCol.as("id"), simhash64(split(trim(textCol), "\\s+")).as("sim"))
    val (exact, probes) = simhashBanded(hashed, maxHamming)
    // pair (a, b): some block has hamming ≤ radius, so a's EXACT key is in
    // b's probe ball for that block — exact⋈probe finds every such pair
    val l = exact.as("l"); val r = probes.as("r")
    val hamming = udf((a: Long, b: Long) => java.lang.Long.bitCount(a ^ b))
    l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.sim").as("sim_a"), col("r.sim").as("sim_b"))
      .distinct()
      .withColumn("hamming", hamming(col("sim_a"), col("sim_b")))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Embedding near-dup via OR-amplified multi-band sign-LSH + exact
    * cosine verify — the same banding shape as [[minhashPairs]]: numBands
    * INDEPENDENT keys of bandPlanes sign bits each (disjoint hyperplane
    * sets); a pair is a candidate when ANY band key collides, so near-dup
    * recall amplifies as 1-(1-p^bandPlanes)^numBands instead of the
    * single-band p^numPlanes (the round-1 single-band shape had
    * structurally poor recall at cos 0.95 and a skew hazard: one popular
    * bucket became a near-all-pairs self-join; multiple narrow bands keep
    * buckets small AND recall high). Shuffles on (band, key) — uniform by
    * construction. Returns (id_a, id_b, cos) with cos ≥ threshold. */
  /** All band keys in ONE sweep over the vector — numBands × bandPlanes
    * unrolled column expressions would be inlined per band by
    * CollapseProject (the same no-CSE trap as the minhash signature,
    * round-1 memory) and blow past codegen limits; the UDF computes the
    * same left-fold projections (bit-identical to the signBitsRange
    * column form: sequential d-ascending sum, >= 0 sign). */
  def signBandKeys(v: Seq[Double], dim: Int, numBands: Int, bandPlanes: Int): Array[Long] = {
    // null / too-short / all-zero vectors get no bands: the zero vector's
    // cosine is NaN (never ≥ threshold) and its all-ones bucket key would
    // otherwise collect every degenerate row into one hot bucket
    if (v == null || v.length < dim || !v.exists(_ != 0.0)) return Array.empty[Long]
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var key = 0L
      var j = 0
      while (j < bandPlanes) {
        val p = b * bandPlanes + j
        var s = 0.0
        var d = 0
        while (d < dim) { s += v(d) * Similarity.planeSign(p, d); d += 1 }
        if (s >= 0) key |= (1L << j)
        j += 1
      }
      out(b) = key
      b += 1
    }
    out
  }

  def embeddingPairs(df: DataFrame, idCol: Column, vecCol: Column,
      dim: Int, numBands: Int = 16, bandPlanes: Int = 4,
      threshold: Double = 0.95): DataFrame = {
    val bandsUdf = udf((v: Seq[Double]) => signBandKeys(v, dim, numBands, bandPlanes))
    val keyed = df.select(idCol.as("id"), vecCol.cast("array<double>").as("v"))
      .where(col("v").isNotNull)
    val banded = keyed.select(col("id"),
      posexplode(bandsUdf(col("v"))).as(Seq("band", "key")))
    val l = banded.as("l"); val r = banded.as("r")
    val candidates = l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    candidates
      .join(keyed.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(keyed.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("v_a"), col("v_b")).as("cos"))
      .where(col("cos") >= threshold)
  }
}
