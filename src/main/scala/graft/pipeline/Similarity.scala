package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Hashing._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two tiers:
  *
  *  - brute-force cosine top-k for a small probe set: broadcast the
  *    probes, scan the corpus once — the exact baseline, linear in
  *    corpus size and embarrassingly parallel;
  *  - random-hyperplane LSH bucketing: each vector gets a bucket id
  *    from the sign pattern of `NumPlanes` fixed ±1 hyperplane dot
  *    products; candidates are restricted to same-bucket vectors, so
  *    the join is an equi-join on bucket — the shape that survives
  *    10^9 vectors (bucket count grows with NumPlanes; skewed buckets
  *    split by AQE).
  *
  * Hyperplane coefficients are fixed ±1 constants derived from the
  * shared hash constants, embedded literally in both the Spark plan
  * and the oracle SQL.
  */
object Similarity {

  val Dim = 64

  /** Planes per bucket id. 16 ⇒ 65536 buckets per table — at 10⁹
    * vectors with [[NumTables]] tables the expected bucket holds ~15k
    * vectors; tune with [[planesFor]] instead of accepting a fixed
    * count (8 planes = 256 buckets was the round-1 scale-killer: ~4M
    * vectors/bucket at 10⁹ and a quadratic in-bucket join).
    */
  val NumPlanes = 16

  /** Independent hash tables (OR-of-tables probing). More planes
    * shrink buckets but split true neighbours apart; querying T
    * independent tables restores recall (a pair collides in ≥1 table
    * with probability 1 − (1−p^b)^T, the same banding amplification as
    * MinHash).
    */
  val NumTables = 2

  /** Default hot-bucket cap for [[semanticDedup]]: within-bucket pair
    * work is bounded by maxBucket² per slice (~16.7M cosines at 4096 —
    * a few seconds of one core), regardless of how many near-identical
    * vectors a semantic cluster packs into one bucket.
    */
  val DefaultMaxBucket = 4096

  /** Corpus-size-aware plane count: buckets sized toward
    * `targetBucketSize` vectors, so the per-bucket join stays ~O(n ·
    * targetBucketSize) as the corpus grows. 10⁹ vectors @ target 64 →
    * 24 planes.
    */
  def planesFor(corpusSize: Long, targetBucketSize: Int = 64): Int = {
    val raw = math.ceil(
      math.log(math.max(corpusSize, 1L).toDouble / targetBucketSize) /
        math.log(2.0)).toInt
    math.min(28, math.max(4, raw))
  }

  /** Deterministic ±1 hyperplane coefficients [plane][dim] for one
    * hash table; table 0 reproduces the round-1 constants.
    */
  def planes(table: Int, numPlanes: Int): IndexedSeq[IndexedSeq[Double]] =
    (0 until numPlanes).map { p =>
      (0 until Dim).map { d =>
        val h = (0x9E3779B1L * (table * 65536 + p * Dim + d + 1)) % M31
        if (h % 2 == 0) 1.0 else -1.0
      }
    }

  /** Back-compat view of table 0's planes. */
  val Planes: IndexedSeq[IndexedSeq[Double]] = planes(0, NumPlanes)

  /** Cosine similarity between two double-array columns. Uses the
    * native codegen'd [[graft.functions.VectorDot]] expression; its
    * sequential left-to-right summation is bit-identical to the
    * `zip_with`+`aggregate` fold it replaces, so oracle parity holds.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vector_cosine(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Brute-force top-k: for each probe vector, the k nearest corpus
    * vectors by cosine. Probes are broadcast; ranking is on the
    * 6dp-rounded similarity with vec_id tie-break (deterministic).
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = corpus.as("c")
      .join(broadcast(probes.as("p")), col("c.vec_id") =!= col("p.vec_id"))
      .select(col("p.vec_id").as("probe_id"), col("c.vec_id").as("vec_id"),
        round(cosine(asDouble(col("p.embedding")), asDouble(col("c.embedding"))), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Embedding-space QA histogram — the "is this embedding space any
    * good" report a curation pipeline runs before trusting ANN or
    * semantic dedup over it: cosine-similarity distributions split
    * into intra-class (same label) vs inter-class (different label)
    * over a deterministic probe slice (`vec_id % probeMod == 0`). A
    * healthy space shows the intra-class mass shifted right of the
    * inter-class mass; overlap means label-conditioned operators
    * (semantic decontamination, class-balanced sampling) will leak.
    *
    * Scale shape: probe-vs-all, never all-pairs — probes broadcast,
    * one codegen'd cosine scan over the corpus, output 2 × bins rows.
    * Sampling is arithmetic on vec_id (engine-portable, seedless).
    */
  def pairHistogram(emb: DataFrame, probeMod: Long, bins: Int): DataFrame = {
    require(bins >= 1 && probeMod >= 1, "pairHistogram needs bins/probeMod >= 1")
    val probes = emb.where(pmod(col("vec_id"), lit(probeMod)) === 0L)
    emb.as("c")
      .join(broadcast(probes.as("p")), col("c.vec_id") =!= col("p.vec_id"))
      .select((col("p.label") === col("c.label")).as("same_label"),
        round(cosine(asDouble(col("p.embedding")),
          asDouble(col("c.embedding"))), 6).as("cs"))
      .select(col("same_label"),
        least(lit(bins - 1), greatest(lit(0),
          floor((col("cs") + lit(1.0)) * lit(bins) / lit(2.0)).cast("int")))
          .as("bin"))
      .groupBy("same_label", "bin")
      .agg(count(lit(1)).as("n"))
      .select(col("same_label"), col("bin"),
        (lit(-1.0) + col("bin").cast("double") * lit(2.0 / bins)).as("bin_lo"),
        col("n"))
  }

  /** Symmetric per-vector int8 quantization: scale = max|v| / 127,
    * q_i = round(v_i / scale) ∈ [−127, 127] — the standard 4×
    * memory/bandwidth cut for embedding search at scale (a 10⁹-vector
    * corpus drops from 256 GB to 64 GB of vector bytes at Dim=64).
    * Everything downstream of the quantization is integer-exact, so
    * the search is engine-deterministic. An all-zero vector gets
    * scale 1 (its quantized form is all zeros either way) rather than
    * a 0/0 NaN.
    */
  def quantizeInt8(vecs: DataFrame): DataFrame = {
    val v = asDouble(col("embedding"))
    val maxabs = array_max(transform(v, x => abs(x)))
    // two-step projection: an expression referenced inside a
    // higher-order-function lambda is re-evaluated PER ELEMENT (no
    // subexpression elimination there), so staging scale first keeps
    // quantization O(Dim), not O(Dim²). The guard also covers
    // non-finite vectors: NaN/±Inf elements (upstream 0/0
    // normalizations) fail `maxabs > 0 AND < Inf`, land on scale 1,
    // and quantize element-wise to 0 — one junk row must not ANSI-
    // crash a corpus scan.
    val staged = vecs.select(col("vec_id"), v.as("_v"),
      when(maxabs > 0 && maxabs < Double.PositiveInfinity, maxabs / 127)
        .otherwise(lit(1.0)).as("scale"))
    staged.select(col("vec_id"),
      transform(col("_v"), x =>
        when(isnan(x) || abs(x) === Double.PositiveInfinity, lit(0))
          .otherwise(round(x / col("scale")).cast("int"))).as("q"),
      col("scale"))
  }

  /** Brute-force top-k over int8-quantized vectors: the integer dot
    * product (exact — |q·q| ≤ 127²·Dim ≪ 2⁵³) rescaled by the two
    * per-vector scales approximates the raw dot product; ranking is on
    * the 6dp-rounded score with vec_id tie-break. Same broadcast-probe
    * shape as [[bruteForceTopK]] at a quarter of the memory traffic —
    * the production pattern is quantized scan → exact rerank of the
    * shortlist (compose with [[bruteForceTopK]] over the survivors).
    */
  def int8TopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qc = quantizeInt8(corpus)
    val qp = quantizeInt8(probes).select(col("vec_id").as("probe_id"),
      col("q").as("pq"), col("scale").as("pscale"))
    val score = graft.functions.VectorExpressions.vector_dot(
        col("q").cast("array<double>"), col("pq").cast("array<double>")) *
      col("scale") * col("pscale")
    // multiply → scale-0 round → divide: identical IEEE sequence on
    // every engine (see Decimation.reAggregateExact)
    val joined = qc.join(broadcast(qp), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (round(score * lit(1e6)).cast("long").cast("double") / lit(1e6))
          .as("int8_score"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("int8_score").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Quantized-scan-then-exact-rerank: the int8 shortlist (quarter
    * memory bandwidth over the corpus) feeds an exact cosine rerank of
    * `shortK` candidates per probe — the production two-tier pattern
    * ([[int8TopK]]'s scaladoc made the promise; this is the
    * composition). Same shape as [[pqSearchReranked]].
    */
  def int8SearchReranked(corpus: DataFrame, probes: DataFrame, topK: Int,
                         shortK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shortlist = int8TopK(corpus, probes, shortK)
      .select(col("probe_id"), col("vec_id"))
    val exact = shortlist
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("probe_emb"))), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(asDouble(col("probe_emb")), asDouble(col("embedding"))), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
  }

  /** Embedding QA: per-source centroid outliers — the k documents per
    * source whose embeddings sit farthest (lowest cosine) from their
    * source's mean vector. The standard mislabeled-data / embedding-
    * drift detector a curation pipeline runs before trusting a
    * source's vectors.
    *
    * Scale shape: centroids are one map-side-combinable per-(source,
    * dim) aggregation (|sources|·Dim rows — metadata-sized, broadcast
    * back), then one codegen'd cosine scan + a per-source top-k
    * window. No corpus-sized shuffle beyond the centroid aggregation.
    *
    * Determinism: per-dim means ride DECIMAL(38,12) and scale-round
    * to 6dp BEFORE the cosine (the sim_ivf_refined centroid
    * discipline), so engine half-ULP drift cannot flip an outlier
    * rank; ties break on doc_id.
    */
  def sourceOutliers(docs: DataFrame, embeds: DataFrame,
                     k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = docs.select(col("doc_id"), col("source"))
      .join(embeds.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
    val cent = m
      .select(col("source"),
        posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
      .groupBy("source", "pos")
      .agg(TextAnalysis.r6(
        graft.archive.Decimation.exactSum(col("x")) / count(lit(1)))
        .as("cx"))
      .groupBy("source")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cx")))),
        t => t.getField("cx")).as("centroid"))
    m.join(broadcast(cent), Seq("source"))
      .select(col("source"), col("doc_id"),
        round(cosine(asDouble(col("embedding")), col("centroid")), 6)
          .as("cos_centroid"))
      .withColumn("rank", row_number().over(Window.partitionBy("source")
        .orderBy(col("cos_centroid").asc, col("doc_id"))))
      .where(col("rank") <= k)
  }

  /** 1-bit sign quantization: bit i = (v_i > 0), packed into four
    * 16-bit integer blocks (the dHash/SimHash block convention —
    * engine-portable integer ops, no 64-bit shift edge cases). The
    * 32×-compression tier of the ANN ladder: a 10⁹-vector corpus at
    * Dim=64 is 8 GB of sign bytes, small enough to broadcast-scan
    * on every executor; Hamming distance approximates angular
    * distance (Charikar 2002 — P[bit flip] = θ/π for random
    * hyperplanes; for sign bits, exact on centered embeddings).
    */
  def binarySign(vecs: DataFrame): DataFrame = {
    val v = asDouble(col("embedding"))
    val blocks = (0 until 4).map { b =>
      (0 until 16).map { j =>
        when(element_at(v, b * 16 + j + 1) > 0, lit(1 << j))
          .otherwise(lit(0))
      }.reduce(_ + _).cast("int").as(s"b$b")
    }
    vecs.select(col("vec_id") +: blocks: _*)
  }

  /** Brute-force top-k over sign bits: rank by Hamming distance asc
    * (64-bit popcount over the four xor'd blocks — pure integer, so
    * ranking is exact and engine-deterministic with no rounding step
    * at all), vec_id tie-break. Same broadcast-probe shape as
    * [[bruteForceTopK]] at 1/32 of the memory traffic; compose with
    * an exact rerank via [[binarySearchReranked]].
    */
  def binaryTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bc = binarySign(corpus)
    val bp = binarySign(probes).select(col("vec_id").as("probe_id"),
      col("b0").as("p0"), col("b1").as("p1"),
      col("b2").as("p2"), col("b3").as("p3"))
    val hamming = (0 until 4).map(i =>
      bit_count(col(s"b$i").bitwiseXOR(col(s"p$i")))).reduce(_ + _)
    val joined = bc.join(broadcast(bp), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        hamming.cast("int").as("hamming"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("hamming").asc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Sign-bit-scan-then-exact-rerank: the Hamming shortlist feeds an
    * exact cosine rerank of `shortK` candidates per probe — the same
    * two-tier production pattern as [[int8SearchReranked]] /
    * [[pqSearchReranked]], at the ladder's cheapest scan tier.
    */
  def binarySearchReranked(corpus: DataFrame, probes: DataFrame,
                           topK: Int, shortK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shortlist = binaryTopK(corpus, probes, shortK)
      .select(col("probe_id"), col("vec_id"))
    val exact = shortlist
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("probe_emb"))), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(asDouble(col("probe_emb")), asDouble(col("embedding"))), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
  }

  /** Matryoshka (MRL) truncated-prefix scan tier: cosine top-k
    * computed on only the FIRST `dims` coordinates (Kusupati et al.
    * 2022 — matryoshka-trained embeddings order information by
    * prefix, so the truncated space preserves neighborhood structure
    * at dims/Dim of the scan bandwidth). Cosine normalizes
    * internally, so no re-normalization of the slice is needed. On
    * non-MRL embeddings (the synthetic corpus) the prefix is just a
    * random projection — the gate pins correctness of the plan, the
    * recall gain appears on genuinely matryoshka-trained vectors.
    */
  def matryoshkaTopK(corpus: DataFrame, probes: DataFrame, dims: Int,
                     k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dims > 0, s"prefix dims must be positive: $dims")
    val cut = (c: Column) => slice(asDouble(c), 1, dims)
    val joined = corpus.as("c")
      .join(broadcast(probes.as("p")), col("c.vec_id") =!= col("p.vec_id"))
      .select(col("p.vec_id").as("probe_id"), col("c.vec_id").as("vec_id"),
        round(cosine(cut(col("p.embedding")), cut(col("c.embedding"))), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Prefix-scan-then-exact-rerank — the MRL serving pattern: the
    * truncated-prefix shortlist (dims/Dim of the scan bandwidth over
    * the corpus) feeds an exact full-dimension cosine rerank of
    * `shortK` candidates per probe. Same two-tier shape as
    * [[int8SearchReranked]] / [[pqSearchReranked]]; at 10⁹ vectors
    * the prefix tier is the memory-bandwidth knob and the rerank
    * touches only shortK full vectors per probe.
    */
  def matryoshkaReranked(corpus: DataFrame, probes: DataFrame, dims: Int,
                         topK: Int, shortK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shortlist = matryoshkaTopK(corpus, probes, dims, shortK)
      .select(col("probe_id"), col("vec_id"))
    val exact = shortlist
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("probe_emb"))), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(asDouble(col("probe_emb")), asDouble(col("embedding"))), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
  }

  /** LSH bucket id in table `table`: bit p set iff plane p's dot
    * product is >= 0.
    */
  def bucketId(embedding: Column, table: Int = 0,
               numPlanes: Int = NumPlanes): Column = {
    val ps = planes(table, numPlanes)
    (0 until numPlanes).map { p =>
      val dot = graft.functions.VectorExpressions.vector_dot(
        asDouble(embedding), lit(ps(p).toArray))
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** (vec_id, embedding, tbl, bucket) — one row per hash table. */
  private def bucketed(corpus: DataFrame, numPlanes: Int,
                       numTables: Int): DataFrame =
    corpus.select(col("vec_id"), col("embedding"),
      explode(array((0 until numTables).map(t =>
        struct(lit(t).as("tbl"),
          bucketId(col("embedding"), t, numPlanes).as("bucket"))): _*))
        .as("tb"))
      .select(col("vec_id"), col("embedding"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))

  /** IVF-style assignment: each vector goes to its nearest seed
    * centroid (deterministic seeds = the first `k` vectors). One
    * broadcast of k centroids against a single corpus scan — the
    * coarse-quantizer shape of an IVF index build; a probe search then
    * touches only its cluster's inverted list instead of the corpus.
    */
  /** Deterministic seed set: the `k` smallest vec_ids — NOT
    * `vec_id < k`, which silently yields an empty (and therefore
    * empty-result) index whenever ids are hashes or non-zero-based.
    */
  private def seedSet(corpus: DataFrame, k: Int): DataFrame =
    corpus.orderBy("vec_id").limit(k)

  /** The k (cluster, seed) rows folded into ONE row carrying them as
    * an array — the broadcast payload of the shuffle-free argmax
    * assignment below. `seedEmb` is the caller's seed-vector
    * expression, passed through untouched so each call site keeps its
    * exact pre-rewrite cast behavior.
    */
  private def seedArray(seeds: DataFrame, seedEmb: Column): DataFrame =
    seeds.agg(collect_list(
      struct(col("cluster").as("cl"), seedEmb.as("s"))).as("cs"))

  /** Coarse-quantizer assignment against an arbitrary centroid frame
    * (cluster, seed_emb) — shared by the seed quantizer
    * ([[ivfAssign]]), the Lloyd-refined one ([[ivfSearchRefined]]),
    * the index build/append, and the Lloyd iteration itself, so their
    * tie-break semantics can never diverge.
    *
    * Shape (guide §2.4 — remove shuffles outright): the old form
    * crossJoined k broadcast seed ROWS and ranked with a
    * `row_number()` window partitioned by vec_id — a full corpus×k
    * sort shuffle for what is a per-row argmax. Now the k seeds ride
    * ONE broadcast row as an array and each corpus row picks its best
    * cluster inline with `array_max` over (cos, ~cluster) structs:
    * zero exchanges, and the corpus row keeps its embedding so
    * downstream consumers (index build, search candidates) no longer
    * re-join the corpus to get it back. Tie semantics are identical
    * to the window sort: struct ordering uses the same nan-safe
    * double comparator as SortOrder (max cos first), and
    * `bitwise_not(cluster)` reverses the cluster order without the
    * overflow a negation would risk (max ~cl = min cl — the window's
    * ascending-cluster tie-break).
    */
  private def argmaxAssigned(corpus: DataFrame,
                             seedsArr: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(seedsArr))
      .withColumn("_best", array_max(transform(col("cs"), c =>
        struct(
          round(cosine(asDouble(col("embedding")), c.getField("s")), 6)
            .as("cos"),
          bitwise_not(c.getField("cl")).as("ncl"),
          c.getField("cl").as("cl")))))
      // an empty seed set assigned nothing in the old crossJoin shape;
      // array_max over the empty array is null — drop it the same way
      .where(col("_best").isNotNull)
      .select(col("vec_id"), col("embedding"),
        col("_best.cl").as("cluster"),
        col("_best.cos").as("cos_to_centroid"))

  private def assignWith(corpus: DataFrame, seeds: DataFrame): DataFrame =
    argmaxAssigned(corpus, seedArray(seeds, asDouble(col("seed_emb"))))
      .select(col("vec_id"), col("cluster"), col("cos_to_centroid"))

  private def seedFrame(corpus: DataFrame, k: Int): DataFrame =
    seedSet(corpus, k)
      .select(col("vec_id").as("cluster"), col("embedding").as("seed_emb"))

  def ivfAssign(corpus: DataFrame, k: Int = 8): DataFrame =
    assignWith(corpus, seedFrame(corpus, k))

  /** IVF index build — Lloyd refinement of the coarse quantizer: each
    * iteration assigns every vector to its nearest centroid (broadcast
    * k centroids, one scan) and recomputes each centroid as the
    * element-wise mean of its members (posexplode → per-(cluster,
    * dimension) decimal-routed mean → reassembled array). Iterations
    * are driver-chained plans; each costs one corpus scan + one
    * k·Dim-sized aggregate — the standard coarse-quantizer training
    * shape at corpus scale.
    */
  def ivfCentroids(corpus: DataFrame, k: Int = 8,
                   iters: Int = 1): DataFrame =
    centroidsImpl(corpus, k, iters, roundDims = false)

  /** [[ivfCentroids]] with each dimension scaled-rounded to 6dp after
    * every iteration — the engine-deterministic variant the
    * oracle-gated refined search runs on. Unrounded per-dim means
    * carry half-ulp engine differences into the NEXT iteration's
    * (rounded) assignment cosines, where a 6dp tie can tip; rounding
    * at the hand-off makes every iteration's input bit-identical
    * across engines (the [[semanticDedup]] centroid convention).
    * Recall impact is nil: 1e-6 per dimension against unit-norm-scale
    * vectors.
    */
  def ivfCentroidsRounded(corpus: DataFrame, k: Int = 8,
                          iters: Int = 2): DataFrame =
    centroidsImpl(corpus, k, iters, roundDims = true)

  private def centroidsImpl(corpus: DataFrame, k: Int, iters: Int,
                            roundDims: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var centroids = seedSet(corpus, k)
      .select(col("vec_id").as("cluster"),
        asDouble(col("embedding")).as("centroid"))
    for (_ <- 1 to iters) {
      // shuffle-free argmax assignment (see [[argmaxAssigned]]) — the
      // centroid column is passed through uncast, exactly as the old
      // crossJoin+window scored it
      val assigned = argmaxAssigned(corpus,
        seedArray(centroids.select(col("cluster"), col("centroid")),
          col("centroid")))
      val mean =
        if (roundDims)
          TextAnalysis.r6(
            graft.archive.Decimation.exactSum(col("v")) / count(lit(1)))
        else
          graft.archive.Decimation.exactSum(col("v")) / count(lit(1))
      val recomputed = assigned
        .select(col("cluster"),
          posexplode(asDouble(col("embedding"))).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(mean.as("v"), count(lit(1)).as("n"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          x => x.getField("v")).as("centroid"),
          max(col("n")).as("n_assigned"))
      // a cluster that attracted no members this iteration KEEPS its
      // previous centroid instead of silently vanishing (k would
      // otherwise shrink permanently — same rule as pqCodebooksRefined)
      centroids = centroids
        .select(col("cluster"), col("centroid").as("_prev"))
        // both sides are k rows — broadcast beats planning a shuffle
        // pair for a quantizer-sized join
        .join(broadcast(recomputed), Seq("cluster"), "left")
        .select(col("cluster"),
          coalesce(col("centroid"), col("_prev")).as("centroid"),
          coalesce(col("n_assigned"), lit(0L)).as("n_assigned"))
    }
    centroids
  }

  /** IVF search — the probe path that makes [[ivfAssign]] an index:
    * each probe vector searches ONLY the inverted lists of its
    * `nProbe` nearest centroids instead of the whole corpus. Shape at
    * scale: centroids are broadcast twice (once against probes, once
    * against the corpus — both tiny maps over single scans), and the
    * candidate join is an equi-join on `cluster`, so cost is
    * |probes| × (nProbe / k) × |corpus| — a k/nProbe-fold reduction
    * over brute force with the same top-k ranking semantics on the
    * reduced candidate set.
    */
  /** Each probe's `nProbe` nearest centroids: (probe_id, probe_emb,
    * cluster) — shared by the per-query and persisted-index search
    * paths so their selection (and tie-break) semantics can never
    * diverge.
    */
  private def nearestClusters(probes: DataFrame, seeds: DataFrame,
                              nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = probes.crossJoin(broadcast(seeds))
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        col("cluster"),
        round(cosine(asDouble(col("embedding")), asDouble(col("seed_emb"))), 6)
          .as("cos_to_centroid"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos_to_centroid").desc, col("cluster"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= nProbe)
      .select(col("probe_id"), col("probe_emb"), col("cluster"))
  }

  /** `broadcastProbes`: the probe-routing frame is |probes|·nProbe
    * rows and is broadcast by default so the corpus-sized assignment
    * never shuffles for the candidate join. Pass false for
    * corpus-sized probe sets (all-pairs kNN) — the explicit hint
    * bypasses the broadcast size limits and would OOM the driver
    * where a planner-chosen shuffle join completes.
    */
  def ivfSearch(corpus: DataFrame, probes: DataFrame, topK: Int,
                k: Int = 8, nProbe: Int = 2,
                broadcastProbes: Boolean = true): DataFrame =
    searchWith(corpus, probes, seedFrame(corpus, k), nProbe, topK,
      broadcastProbes)

  /** [[ivfSearch]] with BOTH quantizer roles (probe routing and the
    * inverted-list assignment) running over Lloyd-REFINED centroids
    * ([[ivfCentroidsRounded]], `iters` sweeps) instead of the first-k
    * seed vectors — the production index-build shape: refined
    * centroids balance the inverted lists around the data's actual
    * density, which is where the measured recall@10 gain over seed
    * centroids comes from (BASELINE.md RECALL row). Search-time cost
    * is identical to [[ivfSearch]]; the refinement is train-time.
    */
  def ivfSearchRefined(corpus: DataFrame, probes: DataFrame, topK: Int,
                       k: Int = 8, nProbe: Int = 2,
                       iters: Int = 2,
                       broadcastProbes: Boolean = true): DataFrame =
    searchWith(corpus, probes,
      ivfCentroidsRounded(corpus, k, iters)
        .select(col("cluster"), col("centroid").as("seed_emb")),
      nProbe, topK, broadcastProbes)

  /** The IVF probe path over an arbitrary quantizer (cluster,
    * seed_emb) — shared by the seed and refined searches.
    */
  private def searchWith(corpus: DataFrame, probes: DataFrame,
                         seeds: DataFrame, nProbe: Int,
                         topK: Int,
                         broadcastProbes: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // probe → its nProbe nearest clusters
    val probeClusters = nearestClusters(probes, seeds, nProbe)
    // corpus member → its cluster (the inverted-list assignment); the
    // argmax keeps the embedding on the row, so no corpus re-join
    val assigned = argmaxAssigned(corpus,
        seedArray(seeds, asDouble(col("seed_emb"))))
      .select(col("vec_id"), col("cluster"), col("embedding"))
    // serving-shaped probe sets are |probes|·nProbe rows — broadcast
    // by default so the corpus-sized assignment never shuffles for
    // the join (the planner can't infer the post-window size and was
    // observed sort-merge-joining here); disabled for all-pairs uses
    // (see ivfSearch docs)
    val probeSide =
      if (broadcastProbes) broadcast(probeClusters) else probeClusters
    val cand = probeSide.join(assigned, Seq("cluster"))
      .where(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(asDouble(col("probe_emb")), asDouble(col("embedding"))), 6)
          .as("cos_sim"))
      // no dedup needed: each corpus vector lives in exactly one
      // cluster, so a (probe, vector) pair occurs at most once
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
  }

  /** Persisted IVF index: centroids + cluster-partitioned inverted
    * lists written once, probed many times — the serving-time shape
    * (building the index per query, as [[ivfSearch]] does, is the
    * benchmark convenience, not the production deployment). The
    * postings table is `partitionBy(cluster)`, so a probe touching
    * `nProbe` lists reads exactly those directory partitions — at
    * 10⁹ vectors a 2-of-64-list probe scans ~3% of the corpus bytes.
    */
  def ivfBuildIndex(corpus: DataFrame, path: String, k: Int = 8): Unit = {
    seedSet(corpus, k)
      .select(col("vec_id").as("cluster"), col("embedding").as("seed_emb"))
      .write.mode("overwrite").parquet(path + "/centroids")
    // argmax assignment carries the embedding through — no corpus
    // re-join before the partitioned write (guide §2.4)
    argmaxAssigned(corpus, seedArray(seedFrame(corpus, k),
        asDouble(col("seed_emb"))))
      .select(col("vec_id"), col("cluster"), col("embedding"))
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(path + "/postings")
    // freshness metadata: the corpus size this quantizer was trained
    // over — the drift trigger compares live postings against it.
    // One JSON line written driver-side (metadata, not data): a
    // 1-row Spark write was a whole scheduled job for a ~40-byte file.
    // Written to a temp file and renamed over meta.json, so a
    // concurrent ivfRefreshIfDrifted always finds one meta (the temp
    // name does not end in .json, which the reader globs)
    val dir = new org.apache.hadoop.fs.Path(path + "/meta")
    val hfs = dir.getFileSystem(
      corpus.sparkSession.sparkContext.hadoopConfiguration)
    val meta = new org.apache.hadoop.fs.Path(dir, "meta.json")
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".meta-${java.util.UUID.randomUUID().toString.take(12)}.tmp")
    val out = hfs.create(tmp, false)
    try out.write(s"""{"base_count":${corpus.count()},"k":$k}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // rename replaces meta.json on POSIX; HDFS refuses an existing
    // target, so drop it there first
    if (!hfs.rename(tmp, meta) &&
        !(hfs.delete(meta, false) && hfs.rename(tmp, meta))) {
      hfs.delete(tmp, false)
      throw new java.io.IOException(s"cannot publish $meta")
    }
    // a pre-r12 index's 1-row Spark write left part-*.json beside it
    hfs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.endsWith(".json") && p.getName != "meta.json")
      .foreach(hfs.delete(_, false))
  }

  /** The index FRESHNESS policy ([[ivfIndexAppend]]'s other half):
    * appends reuse the centroids the index was built with, so after
    * heavy churn the coarse quantizer no longer reflects the corpus
    * and recall drifts. This trigger compares the live postings count
    * against the build-time `base_count`; once the appended fraction
    * exceeds `maxAppendFraction`, the index is REBUILT over its own
    * postings (re-seeded centroids + re-partitioned lists — the same
    * deterministic build as [[ivfBuildIndex]], so a rebuilt index is
    * bit-identical to one built fresh over the same vectors) and the
    * meta resets. Returns whether a rebuild happened.
    *
    * Cost shape: the trigger itself is one metadata read + one count;
    * the rebuild is one full postings rewrite — amortized over the
    * ≥ `maxAppendFraction` growth that caused it, the same bound as a
    * log-structured store's compaction.
    */
  def ivfRefreshIfDrifted(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          maxAppendFraction: Double = 0.5): Boolean = {
    // metadata read stays driver-side (one ~40-byte JSON file; a
    // spark.read.json here paid a schema-inference job + a read job).
    // Glob *.json so indexes written by the pre-r12 1-row Spark write
    // (part-*.json) parse identically.
    val meta: Option[(Long, Long)] =
      try {
        val dir = new org.apache.hadoop.fs.Path(path + "/meta")
        val hfs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val kv = "\"(base_count|k)\"\\s*:\\s*(-?\\d+)".r
        hfs.listStatus(dir).iterator
          .filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
          .map { s =>
            val in = hfs.open(s.getPath)
            val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
            kv.findAllMatchIn(txt)
              .map(m => m.group(1) -> m.group(2).toLong).toMap
          }
          .collectFirst { case m if m.contains("base_count") && m.contains("k") =>
            (m("base_count"), m("k")) }
      } catch { case _: Throwable => None }
    if (meta.isEmpty) return false // pre-policy index: no baseline
    val base = meta.get._1
    val k = meta.get._2.toInt
    val total = spark.read.parquet(path + "/postings").count()
    if (base <= 0L || (total - base).toDouble / base <= maxAppendFraction)
      return false
    // stage the corpus OUTSIDE the postings tree before overwriting it
    // (reading and overwriting the same files races the scan)
    val staging = path + "/rebuild_src"
    spark.read.parquet(path + "/postings")
      .select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(staging)
    ivfBuildIndex(spark.read.parquet(staging), path, k)
    val p = new org.apache.hadoop.fs.Path(staging)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    true
  }

  /** Probe a persisted IVF index — [[ivfSearch]] semantics without
    * recomputing the assignment. The probed cluster ids are collected
    * (≤ |probes|·nProbe values, driver-side metadata scale) and pushed
    * as a partition-pruning filter on the postings read.
    */
  /** Incremental index growth: assign a new batch of vectors to the
    * EXISTING centroids and append to the cluster-partitioned postings
    * — work proportional to the batch (one broadcast-centroid scan +
    * one partitioned append), never a rebuild. The ANN analog of
    * [[Dedup.incrementalCandidates]]'s daily-ingest shape. Centroids
    * drift as the corpus grows; rebuild with [[ivfBuildIndex]] (or
    * re-train via [[ivfCentroids]]) when recall degrades.
    */
  def ivfIndexAppend(spark: org.apache.spark.sql.SparkSession,
                     path: String, newVecs: DataFrame): Unit = {
    val seeds = spark.read.parquet(path + "/centroids")
    // nProbe=1 routing IS the argmax assignment — same shuffle-free
    // shape (and identical tie-break) as the build-side assign
    argmaxAssigned(newVecs, seedArray(seeds, asDouble(col("seed_emb"))))
      .select(col("vec_id"), col("embedding"), col("cluster"))
      .repartition(col("cluster"))
      .write.mode("append").partitionBy("cluster")
      .parquet(path + "/postings")
  }

  def ivfSearchIndexed(spark: org.apache.spark.sql.SparkSession,
                       path: String, probes: DataFrame, topK: Int,
                       nProbe: Int = 2,
                       broadcastProbes: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seeds = spark.read.parquet(path + "/centroids")
    // hive partition columns read back as Int — restore the key type
    val postings = spark.read.parquet(path + "/postings")
      .withColumn("cluster", col("cluster").cast("long"))
    // localCheckpoint: the frame feeds BOTH the wanted-cluster collect
    // and the candidate join — without materialization the probe scan,
    // centroid cross join, and rank window would execute twice
    val probeClusters = nearestClusters(probes, seeds, nProbe)
      .localCheckpoint()
    val wanted = probeClusters.select("cluster").distinct()
      .collect().map(_.getLong(0))
    // probe frame broadcast for the same reason as searchWith (the
    // pruned postings read is the big side); same all-pairs opt-out
    val probeSide =
      if (broadcastProbes) broadcast(probeClusters) else probeClusters
    val cand = probeSide
      .join(postings.where(col("cluster").isin(wanted.toSeq: _*)),
        Seq("cluster"))
      .where(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(asDouble(col("probe_emb")), asDouble(col("embedding"))), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
  }

  // ---- product quantization (IVF-PQ's memory-compression half) ----

  /** PQ geometry: 64 dims → 4 subspaces × 16 dims, 16 codes per
    * subspace ⇒ each vector compresses to 4 bytes (64× smaller than
    * float32) — the standard trick that fits 10⁹-vector search in
    * memory. Codebooks here are deterministic seeds (subvectors of the
    * first [[PqCodebookSize]] corpus vectors), the same convention as
    * [[ivfAssign]]; swap in Lloyd-refined codebooks per subspace for
    * production recall (the [[ivfCentroids]] machinery applies
    * unchanged per subspace).
    */
  val PqSubDim = 16
  val PqNumSub = 4
  val PqCodebookSize = 16

  /** (m, code, cent) — subspace m's codebook entries. */
  def pqCodebooks(corpus: DataFrame): DataFrame =
    // codes are the RANKS of the training vectors (0..size-1), not raw
    // vec_ids — hash or non-zero-based ids would otherwise truncate
    // into colliding int codes
    seedSet(corpus, PqCodebookSize)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("code", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1)
        .cast("int"))
      .select(col("code"), explode(array((0 until PqNumSub).map(m =>
        struct(lit(m).as("m"),
          slice(col("v"), m * PqSubDim + 1, PqSubDim).as("cent"))): _*))
        .as("mc"))
      .select(col("mc.m").as("m"), col("code"), col("mc.cent").as("cent"))

  /** (vec_id, m, sub) — each vector's [[PqNumSub]] subvectors. */
  private def subvectors(corpus: DataFrame): DataFrame =
    corpus
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), explode(array((0 until PqNumSub).map(m =>
        struct(lit(m).as("m"),
          slice(col("v"), m * PqSubDim + 1, PqSubDim).as("sub"))): _*))
        .as("ms"))
      .select(col("vec_id"), col("ms.m").as("m"), col("ms.sub").as("sub"))

  /** Encode each vector as [[PqNumSub]] codebook indices: per
    * subspace, the L2-nearest entry (via the dot identity — |c|² −
    * 2x·c orders identically to the full distance), 6dp-rounded with
    * code tie-break for determinism. One broadcast of the (tiny)
    * codebooks against a single corpus scan. Output (vec_id, m, code).
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dot = graft.functions.VectorExpressions.vector_dot _
    val scored = subvectors(corpus).join(broadcast(codebooks), Seq("m"))
      .select(col("vec_id"), col("m"), col("code"),
        round(dot(col("cent"), col("cent")) -
          lit(2.0) * dot(col("sub"), col("cent")), 6).as("d2"))
    val w = Window.partitionBy("vec_id", "m")
      .orderBy(col("d2"), col("code"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("code"))
  }

  /** Lloyd refinement of the PQ codebooks, per subspace: each
    * iteration re-encodes the corpus against the current codebooks
    * (the assignment step) and replaces every codebook entry with the
    * element-wise mean of its assigned subvectors (decimal-routed —
    * order-independent); entries that attract no vectors keep their
    * previous centroid. Same training shape as [[ivfCentroids]], M
    * codebooks at once: one corpus scan + one k·M·subDim-sized
    * aggregate per iteration.
    */
  def pqCodebooksRefined(corpus: DataFrame, iters: Int = 1): DataFrame = {
    var cb = pqCodebooks(corpus)
    val sub = subvectors(corpus)
    for (_ <- 1 to iters) {
      val codes = pqEncode(corpus, cb)
      val means = codes.join(sub, Seq("vec_id", "m"))
        .select(col("m"), col("code"),
          posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy("m", "code", "pos")
        .agg((graft.archive.Decimation.exactSum(col("v")) / count(lit(1)))
          .as("v"))
        .groupBy("m", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          x => x.getField("v")).as("cent2"))
      cb = cb.join(means, Seq("m", "code"), "left")
        .select(col("m"), col("code"),
          coalesce(col("cent2"), col("cent")).as("cent"))
    }
    cb
  }

  /** Asymmetric-distance (ADC) top-k: the probe builds a per-subspace
    * lookup table of exact dot products against the codebook (k·M tiny
    * dots), and every corpus vector's approximate score is the SUM of
    * M table lookups — no per-pair vector math at all. That is the
    * search shape that scans 10⁹ codes at memory bandwidth. The M
    * addends route through DECIMAL ([[graft.archive.Decimation
    * .exactSum]]) so partial-aggregation order cannot perturb ranking.
    */
  def pqSearch(corpus: DataFrame, probes: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dot = graft.functions.VectorExpressions.vector_dot _
    val cb = pqCodebooks(corpus)
    val codes = pqEncode(corpus, cb)
    val lut = probes
      .select(col("vec_id").as("probe_id"),
        asDouble(col("embedding")).as("pv"))
      .crossJoin(broadcast(cb))
      .select(col("probe_id"), col("m"), col("code"),
        dot(slice(col("pv"), col("m") * PqSubDim + 1, lit(PqSubDim)),
          col("cent")).as("term"))
    val scored = codes.join(broadcast(lut), Seq("m", "code"))
      .where(col("probe_id") =!= col("vec_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(round(graft.archive.Decimation.exactSum(col("term")), 6)
        .as("approx_dot"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("approx_dot").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
  }

  /** The production composition: ADC shortlist → exact cosine rerank.
    * The shortlist bounds exact vector math to `shortK` candidates per
    * probe; ranking is then true cosine. This is how PQ systems trade
    * a small recall loss for a 64× memory reduction while keeping
    * exact final ordering.
    */
  def pqSearchReranked(corpus: DataFrame, probes: DataFrame, topK: Int,
                       shortK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shortlist = pqSearch(corpus, probes, shortK)
      .select(col("probe_id"), col("vec_id"))
    val exact = shortlist
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("probe_emb"))), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(asDouble(col("probe_emb")), asDouble(col("embedding"))), 6)
          .as("cos_sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
  }

  /** The full billion-scale composition — IVF-PQ with exact rerank
    * (the FAISS `IVFPQ` + refine shape, which is what actually runs at
    * 10⁹ vectors): the coarse quantizer prunes the search to `nProbe`
    * clusters' postings, the ADC table lookups score ONLY those
    * candidates from their 4-byte codes (no vector math per pair),
    * and the exact cosine rerank of the `shortK` shortlist restores
    * true final order. Scale ledger per probe: k tiny centroid dots +
    * (corpus/k)·nProbe code-sum lookups + shortK exact cosines —
    * versus [[pqSearch]]'s full-corpus code scan and
    * [[bruteForceTopK]]'s full-corpus vector scan. Same determinism
    * conventions as both halves (6dp scaled rounds, DECIMAL-routed
    * ADC sums, id tie-breaks), so the composition is oracle-gateable
    * end to end.
    */
  def ivfPqSearch(corpus: DataFrame, probes: DataFrame, topK: Int,
                  nProbe: Int = 2, shortK: Int = 50,
                  k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dot = graft.functions.VectorExpressions.vector_dot _
    val seeds = seedFrame(corpus, k)
    val probeClusters = nearestClusters(probes, seeds, nProbe)
      .select(col("probe_id"), col("cluster"))
    val assigned = ivfAssign(corpus, k).select(col("vec_id"), col("cluster"))
    val cb = pqCodebooks(corpus)
    val codes = pqEncode(corpus, cb)
    val lut = probes
      .select(col("vec_id").as("probe_id"),
        asDouble(col("embedding")).as("pv"))
      .crossJoin(broadcast(cb))
      .select(col("probe_id"), col("m"), col("code"),
        dot(slice(col("pv"), col("m") * PqSubDim + 1, lit(PqSubDim)),
          col("cent")).as("term"))
    // IVF pruning: candidates are only the probed clusters' members
    val cand = broadcast(probeClusters).join(assigned, Seq("cluster"))
      .where(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"))
    val scored = cand.join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("probe_id", "m", "code"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(round(graft.archive.Decimation.exactSum(col("term")), 6)
        .as("approx_dot"))
    val wAdc = Window.partitionBy("probe_id")
      .orderBy(col("approx_dot").desc, col("vec_id"))
    val shortlist = scored.withColumn("rn", row_number().over(wAdc))
      .where(col("rn") <= shortK)
      .select(col("probe_id"), col("vec_id"))
    val exact = shortlist
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("probe_emb"))), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(asDouble(col("probe_emb")), asDouble(col("embedding"))), 6)
          .as("cos_sim"))
    val wExact = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= topK)
  }

  /** Embedding-cosine near-dup: candidate pairs from shared LSH
    * buckets in ANY of `numTables` tables (OR-of-tables), kept when
    * exact cosine clears `minCos`. Same never-all-pairs shape as the
    * text dedup family; each table's join is an equi-join on
    * (tbl, bucket) and the cross-table union dedups on the pair.
    */
  def embeddingNearDup(corpus: DataFrame, minCos: Double,
                       numPlanes: Int = NumPlanes,
                       numTables: Int = NumTables): DataFrame = {
    // Decide with small rows, move the vectors once (guide §8): the
    // old shape self-joined the bucketed frame WITH its embedding
    // column, so every vector rode the (tbl, bucket) exchange
    // numTables times per side and again through the pair-dedup
    // exchange. Bucket ids alone are shuffled to find candidate pairs
    // (cached: one hyperplane-hash pass feeds both self-join sides and
    // ReuseExchange collapses the two identical exchanges); the
    // deduplicated pair list — near-dup-sized, ≪ corpus — then
    // re-attaches each side's embedding exactly once for the cosine.
    val b = bucketed(corpus, numPlanes, numTables)
      .select(col("vec_id"), col("tbl"), col("bucket")).cache()
    val cand = b.as("a").join(b.as("bb"),
        col("a.tbl") === col("bb.tbl") &&
        col("a.bucket") === col("bb.bucket") &&
        col("a.vec_id") < col("bb.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("bb.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    val e = corpus.select(col("vec_id"), asDouble(col("embedding")).as("e"))
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("e").as("ea")),
        Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("e").as("eb")),
        Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("ea"), col("eb")), 6).as("cos_sim"))
      .where(col("cos_sim") >= minCos)
  }

  /** Per-cluster mean embedding over a near-dup pair graph — the
    * representative vector a deduplicated index serves. Element-wise
    * mean via posexplode → (cluster, dimension) partial aggregation:
    * combiner-friendly, one shuffle keyed by (comp, pos), and no
    * vector is ever materialized whole on any single node beyond its
    * own row. Vectors absent from the pair graph are their own
    * (singleton) centroid.
    *
    * @param pairs near-dup edges `(vec_a, vec_b)`. Every endpoint must
    *   be a `vec_id` of `corpus`, and `vec_id` must be unique there:
    *   `n_members` counts the pair graph's nodes, so an endpoint
    *   missing from the corpus (pairs from a superset or a stale frame)
    *   is counted as a member that contributes no vector.
    */
  def clusterCentroids(corpus: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = Dedup.connectedComponents(
        pairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("id").as("vec_id"), col("comp"))
    val keyed = corpus
      .join(broadcast(comp), Seq("vec_id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("vec_id")))
    // member counts come from the (small, checkpointed) component
    // frame, not a second full corpus scan: every pair-graph member is
    // a corpus row (vec_id unique), so count-per-comp over `comp` IS
    // the corpus member count; vectors absent from the graph are
    // singletons (n_members = 1) — guide §2.3, don't re-scan the
    // corpus for a count the metadata already holds. A graph comp
    // label can never collide with a singleton's: comp is the min
    // member id, which is itself in the graph.
    val members = comp.groupBy("comp")
      .agg(count(lit(1)).as("n_members"))
    keyed
      .select(col("comp"), posexplode(asDouble(col("embedding")))
        .as(Seq("pos", "v")))
      .groupBy("comp", "pos")
      // DECIMAL-routed sum: partial-aggregation order can never flip a
      // 6dp digit of the mean against another engine
      .agg(graft.archive.Decimation.exactSum(col("v")).as("s"),
        count(lit(1)).as("n"))
      .groupBy("comp")
      .agg(transform(array_sort(collect_list(struct(col("pos"),
          (col("s") / col("n")).as("m")))), e => e.getField("m"))
        .as("centroid"))
      .join(broadcast(members), Seq("comp"), "left")
      .withColumn("n_members", coalesce(col("n_members"), lit(1L)))
  }

  /** Embedding post-processing for retrieval/clustering prep:
    * L2-normalize → subtract the corpus mean direction → re-normalize
    * (the standard centering step that removes the shared "hubness"
    * component inflating every cosine; cf. the all-but-the-top
    * observation that embedding sets share a large common mean
    * vector). Three stages, all linear:
    *
    *   1. unit vectors — one codegen'd scan (norm via the native
    *      [[graft.functions.VectorDot]]), elements 6dp scale-rounded
    *      at the hand-off so both engines agree bit-exactly;
    *   2. per-dimension corpus mean — posexplode + DECIMAL-routed
    *      combinable aggregation over `dims` keys, 6dp-rounded at the
    *      hand-off (the iterating-chain rule: round every cross-stage
    *      hand-off or half-ULP drift compounds);
    *   3. center + re-normalize — the dim-sized mean vector is
    *      broadcast; one more scan.
    *
    * At 100 TB: two corpus scans and one dims-sized shuffle — the mean
    * is a map-side-combinable per-dimension sum, never a vector
    * shuffle. Zero-norm inputs pass through unchanged (no 0/0 under
    * ANSI); zero-norm CENTERED vectors (a vector exactly equal to the
    * mean direction) likewise.
    *
    * Output: (vec_id, pre_norm — the original L2 length, vec — the
    * processed array).
    */
  def normalizeCenter(emb: DataFrame): DataFrame = {
    val sr6e = TextAnalysis.r6 _ // the one shared scaled-round sequence
    val dot = graft.functions.VectorExpressions.vector_dot(_, _)
    val unit = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("pre_norm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id"), col("pre_norm"),
        when(col("pre_norm") > 0,
          transform(col("v"), x => sr6e(x / col("pre_norm"))))
          .otherwise(col("v")).as("u"))
    val mean = unit
      .select(posexplode(col("u")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(sr6e(graft.archive.Decimation.exactSum(col("x")).cast("double")
        / count(lit(1))).as("m"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("mean_vec"))
    unit.crossJoin(broadcast(mean))
      .withColumn("c", zip_with(col("u"), col("mean_vec"), (a, b) => a - b))
      .withColumn("c_norm", sqrt(dot(col("c"), col("c"))))
      .select(col("vec_id"), col("pre_norm"),
        when(col("c_norm") > 0,
          transform(col("c"), x => sr6e(x / col("c_norm"))))
          .otherwise(col("c")).as("vec"))
  }

  /** Multi-table ANN: per vector, its best candidate neighbour (by
    * rounded cosine, vec_id tie-break) across every table it shares a
    * bucket with, plus its candidate count (0 rows stay present with
    * nulls). The per-(table, bucket) self-join replaces the quadratic
    * all-pairs scan; more planes ⇒ smaller buckets, more tables ⇒
    * recovered recall.
    */
  def lshNearest(corpus: DataFrame, numPlanes: Int = NumPlanes,
                 numTables: Int = NumTables): DataFrame = {
    // Decide with small rows, move the vectors once (guide §8, same
    // rewrite as embeddingNearDup): the old shape self-joined the
    // bucketed frame WITH both embedding columns, so every vector rode
    // the (tbl, bucket) exchange numTables times per side and BOTH
    // pair embeddings rode the (vec_id, mate_id) dedup exchange again.
    // Bucket ids alone (cached: one hyperplane-hash pass feeds both
    // self-join sides, ReuseExchange collapses the two identical
    // exchanges) find the candidate mate list; the deduplicated pair
    // list — candidate-sized, ≪ corpus × tables — re-attaches each
    // side's embedding exactly once for the cosine.
    val b = bucketed(corpus, numPlanes, numTables)
      .select(col("vec_id"), col("tbl"), col("bucket")).cache()
    val e = corpus.select(col("vec_id"), asDouble(col("embedding")).as("e"))
    val cand = b.as("a").join(b.as("bb"),
        col("a.tbl") === col("bb.tbl") &&
        col("a.bucket") === col("bb.bucket") &&
        col("a.vec_id") =!= col("bb.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("bb.vec_id").as("mate_id"))
      .dropDuplicates("vec_id", "mate_id")
      .join(e.select(col("vec_id"), col("e").as("ea")), Seq("vec_id"))
      .join(e.select(col("vec_id").as("mate_id"), col("e").as("eb")),
        Seq("mate_id"))
      .select(col("vec_id"), col("mate_id"),
        round(cosine(col("ea"), col("eb")), 6).as("cos_sim"))
    // Packed PRIMITIVE ordering key (r13, guide §4): min_by with a
    // STRUCT ordering forces SortAggregate (struct buffer fields are
    // not hash-aggregable), which re-sorts the candidate frame inside
    // the aggregation. The (−cos, mate_id) order packs exactly into
    // one DECIMAL(38,0): cos_sim is 6dp-rounded, so
    // c6 = round(cos·1e6) is an exact integer in [−1e6, 1e6] and the
    // map is injective+monotone over the rounded values;
    // ord = (1e6 − c6)·2⁶⁴ + (mate_id + 2⁶³) then orders exactly like
    // (cos desc, mate_id asc) — 26 digits, exact in decimal(38,0),
    // unique per (vec_id, mate_id) group so min_by never ties. With a
    // primitive value and a decimal ordering both aggregates ride ONE
    // HashAggregate (pinned in PlanShapeSpec); the selected
    // (best_mate, best_cos) rows are identical.
    val two63 = lit(new java.math.BigDecimal("9223372036854775808"))
    val two64 = lit(new java.math.BigDecimal("18446744073709551616"))
    val c6 = round(col("cos_sim") * lit(1e6)).cast("decimal(20,0)")
    val ord = (lit(new java.math.BigDecimal(1000000)) - c6) * two64 +
      (col("mate_id").cast("decimal(20,0)") + two63)
    val best = cand.groupBy("vec_id").agg(
      count(lit(1)).as("n_candidates"),
      min_by(col("mate_id"), ord).as("best_mate"),
      min_by(col("cos_sim"), ord).as("best_cos"))
    corpus.select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_mate"), col("best_cos"))
  }

  /** Back-compat single-table variant of round 1's query shape. */
  def lshNearestInBucket(corpus: DataFrame): DataFrame =
    lshNearest(corpus, NumPlanes, 1)

  /** Semantic deduplication — SemDeDup (Abbas et al. 2023,
    * arXiv:2303.09540) re-expressed for Spark at scale. The paper
    * k-means-clusters the embedding space and, inside each cluster,
    * drops all but one member of every ε-ball of near-identical
    * semantics, keeping the member FARTHEST from the cluster centroid
    * (low centroid-similarity = the most informative exemplar).
    *
    * Scale-first choices:
    *  - the cluster structure is the deterministic single-table LSH
    *    bucketing (`planesFor` bounds expected bucket size, so the
    *    within-bucket pair join is ~O(n·targetBucketSize), never
    *    all-pairs, and needs no iterative training pass);
    *  - the centroid is a per-(bucket, dimension) partial aggregation —
    *    map-side combinable, one shuffle keyed by (bucket, pos), no
    *    vector materialized whole off its own row;
    *  - the keep rule is a non-recursive tournament: x is dropped when
    *    some same-bucket y with cos(x, y) ≥ `minCos` sits closer to the
    *    centroid (centroid_sim tie → lower vec_id wins). The greedy
    *    sequential sweep of the paper is inherently serial; the
    *    tournament keeps every local minimum of centroid-similarity,
    *    deviating only on chains (a~b, b~c, a≁c keeps {a-or-c side}
    *    both here, one of three there) — the conservative direction
    *    for training data (never over-deletes a chain).
    *
    * Centroid elements are rounded at 6dp (scaled round) so the
    * downstream cosines see engine-identical inputs.
    *
    * Output: one row per vector — (vec_id, bucket, centroid_sim,
    * dropped).
    */
  def semanticDedup(corpus: DataFrame, minCos: Double,
                    numPlanes: Int = NumPlanes,
                    maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // Hot-bucket guard: a semantic cluster of m near-identical vectors
    // lands in ONE bucket by design, and the within-bucket tournament
    // is O(m²) — measured 527 s on 200k vectors collapsed into ~100
    // clusters vs seconds on smooth corpora (the dedup analog of the
    // image block join's df-cap). Buckets beyond `maxBucket` are
    // sliced by a stable vec_id hash into ⌈m/maxBucket⌉ sub-buckets:
    // pair work per slice is bounded, every slice still drops all but
    // its centroid-farthest member of each ε-group, and the
    // conservative direction (a few extra survivors, one per slice)
    // is the right failure mode for training data. With no bucket
    // over the cap the sub-key is constant 0 and semantics — and the
    // oracle — are unchanged.
    val b0 = bucketed(corpus, numPlanes, 1).drop("tbl")
    val sizes = b0.groupBy("bucket").agg(count(lit(1)).as("bn"))
    val nsub = greatest(ceil(col("bn") / lit(maxBucket)), lit(1L)).cast("long")
    val b = b0.join(sizes, Seq("bucket"))
      .withColumn("sub", pmod(xxhash64(col("vec_id")), nsub))
      .drop("bn")
    val cent = b
      .select(col("bucket"), col("sub"),
        posexplode(asDouble(col("embedding"))).as(Seq("pos", "v")))
      .groupBy("bucket", "sub", "pos")
      .agg(graft.archive.Decimation.exactSum(col("v")).as("s"),
        count(lit(1)).as("n"))
      .groupBy("bucket", "sub")
      .agg(transform(array_sort(collect_list(struct(col("pos"),
          TextAnalysis.r6(col("s").cast("double") / col("n")).as("m")))),
          e => e.getField("m"))
        .as("centroid"))
    // The per-vector centroid-similarity frame is referenced three
    // times (both tournament sides + the output): self-join branches
    // do not CSE, so without truncation the Dim-fold posexplode
    // centroid pipeline would run three times over the corpus.
    // A lazy local checkpoint stores the 3-column narrow frame
    // (~24 B/vector — 24 GB cluster-wide at 10⁹ vectors) after its
    // first materialization; recompute-on-executor-loss is the
    // accepted trade against tripling the most expensive stage.
    // CALLER NOTE: the checkpoint makes the returned frame a SNAPSHOT
    // — the first materialization is frozen and re-served (stale if
    // the source table changes), and its blocks persist until the
    // frame is garbage-collected or the session ends. Long-lived
    // handles (e.g. a registered temp view) inherit both properties;
    // re-invoke for a fresh pass.
    val cs = b.join(cent, Seq("bucket", "sub"))
      .select(col("bucket"), col("vec_id"),
        round(cosine(asDouble(col("embedding")), col("centroid")), 6)
          .as("centroid_sim"))
      .localCheckpoint(false)
    // candidate pairs from the raw bucketed scan (column-pruned, same
    // two-scan shape as embeddingNearDup) — the only per-pair work
    val pairs = b.as("a").join(b.as("bb"),
        col("a.bucket") === col("bb.bucket") &&
        col("a.sub") === col("bb.sub") &&
        col("a.vec_id") =!= col("bb.vec_id") &&
        round(cosine(asDouble(col("a.embedding")),
          asDouble(col("bb.embedding"))), 6) >= minCos)
      .select(col("a.vec_id").as("x_id"), col("bb.vec_id").as("y_id"))
    val dropped = pairs
      .join(cs.select(col("vec_id").as("x_id"),
        col("centroid_sim").as("x_cs")), Seq("x_id"))
      .join(cs.select(col("vec_id").as("y_id"),
        col("centroid_sim").as("y_cs")), Seq("y_id"))
      .where(col("y_cs") < col("x_cs") ||
        (col("y_cs") === col("x_cs") && col("y_id") < col("x_id")))
      .select(col("x_id").as("vec_id"))
      .distinct()
      .withColumn("is_dropped", lit(true))
    cs.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"), col("centroid_sim"),
        coalesce(col("is_dropped"), lit(false)).as("dropped"))
  }

  /** Semantic train/eval decontamination: flag every corpus vector
    * whose cosine to ANY eval-set vector reaches `minCos` — the
    * embedding-space counterpart of [[Dedup.decontaminate]]'s shingle
    * overlap (an eval paraphrase leaks semantically long before it
    * leaks lexically).
    *
    * Scale shape: eval sets are small by nature (thousands of
    * prompts), so the honest 100 TB plan is a BROADCAST of the eval
    * vectors and ONE corpus scan — per-row work is |eval|·Dim
    * multiply-adds through the codegen'd [[cosine]], no shuffle, no
    * candidate-generation recall risk (LSH would trade exactness for
    * nothing here: the scan is bandwidth-bound either way, and a
    * missed near-duplicate of an eval item is the one failure mode a
    * decontamination pass must not have). Eval vectors present in the
    * corpus itself (same vec_id) are excluded from their own max.
    *
    * Output: one row per corpus vector — (vec_id, max_eval_cos
    * 6dp-rounded with −1 for "no eval neighbor", contaminated).
    */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                            minCos: Double): DataFrame = {
    val scored = corpus.as("c")
      .join(broadcast(evalSet.as("e")),
        col("c.vec_id") =!= col("e.vec_id"), "left")
      .select(col("c.vec_id").as("vec_id"),
        round(cosine(asDouble(col("c.embedding")),
          asDouble(col("e.embedding"))), 6).as("cos"))
    scored.groupBy("vec_id")
      .agg(coalesce(max(col("cos")), lit(-1.0)).as("max_eval_cos"))
      .select(col("vec_id"), col("max_eval_cos"),
        (col("max_eval_cos") >= minCos).as("contaminated"))
  }

  /** Exact Gram matrix of the embedding corpus on the 6dp integer
    * grid — the d×d second-moment matrix Σ qᵢqⱼ (upper triangle),
    * the raw material of PCA whitening, covariance-based embedding QA,
    * and explained-variance reports.
    *
    * Scale shape: the naive plan (explode to d²·N rows, shuffle,
    * aggregate) moves a 4096× blowup through the exchange; this is the
    * one-pass outer-product accumulation instead — each partition
    * folds its rows into a d(d+1)/2 Long triangle (the justified
    * imperative boundary: Catalyst has no outer-product aggregate) and
    * emits ONE triangle per flush, so the shuffle carries
    * partitions × 2080 rows of partial sums, merged by a DECIMAL sum.
    * At 10⁹ vectors that is ~2080 rows per partition vs 4×10¹² — the
    * difference between a broadcastable result and a dead stage.
    *
    * Exactness: components quantize to the 6dp grid (matching every
    * other cross-engine contract in this file); partials flush every
    * [[GramFlushRows]] rows so a Long accumulator cannot wrap (|q| ≤
    * 10⁸ ⇒ |q·q| ≤ 10¹⁶; 512 rows ⇒ ≤ 5·10¹⁸ < 2⁶³); the cross-
    * partition merge is an exact DECIMAL(38,0) sum. Output: (i, j ≥ i,
    * s = Σ qᵢqⱼ as the exact-integer double cast).
    */
  def gramMatrix(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val d = Dim
    val quantized = emb.select(
      expr(s"transform(embedding, x -> cast(round(cast(x as double) " +
        s"* 1000000.0d) as long))").as("q"))
    val partials = quantized.as[Seq[Long]].mapPartitions { rows =>
      // fast path: Long accumulators, guarded against wrap by the
      // component-magnitude bound × flush cadence; every flush folds
      // into an UNBOUNDED BigInt triangle, so the partition emits
      // exactly ONE triangle (zeros included — the oracle emits every
      // pair, a dead dimension must not drop its rows) and per-
      // partition memory is O(d²) regardless of row count
      val acc = new Array[Long](d * (d + 1) / 2)
      val big = Array.fill(d * (d + 1) / 2)(BigInt(0))
      var pending = 0
      var any = false
      def flush(): Unit = if (pending > 0) {
        var k = 0
        while (k < acc.length) {
          if (acc(k) != 0L) { big(k) += acc(k); acc(k) = 0L }
          k += 1
        }
        pending = 0
      }
      rows.foreach { v =>
        require(v.length == d, s"embedding dim ${v.length} != $d")
        any = true
        var i = 0; var k = 0
        while (i < d) {
          val qi = v(i)
          require(qi >= -GramMaxQ && qi <= GramMaxQ,
            s"component magnitude ${qi / 1e6} exceeds the Gram grid bound")
          var j = i
          while (j < d) { acc(k) += qi * v(j); k += 1; j += 1 }
          i += 1
        }
        pending += 1
        if (pending >= GramFlushRows) flush()
      }
      flush()
      if (!any) Iterator.empty
      else {
        var i = 0; var k = 0
        val out = new Array[(Int, Int, String)](d * (d + 1) / 2)
        while (i < d) {
          var j = i
          while (j < d) { out(k) = (i, j, big(k).toString); k += 1; j += 1 }
          i += 1
        }
        out.iterator
      }
    }.toDF("i", "j", "p")
    partials.groupBy("i", "j")
      .agg(sum(col("p").cast("decimal(38,0)")).cast("double").as("s"))
  }

  /** Rows between Long→BigInt folds in [[gramMatrix]], paired with
    * [[GramMaxQ]]: 512 rows × (1.34·10⁸)² stays under 2⁶³.
    */
  val GramFlushRows: Int = 512

  /** Per-component 6dp-grid magnitude bound for [[gramMatrix]]'s Long
    * fast path (|value| ≤ 134) — enforced loudly, never wrapped.
    */
  val GramMaxQ: Long = 134000000L

  /** Top principal component of the embedding covariance by power
    * iteration over the COLLECTED Gram triangle — the Gram matrix is
    * d(d+1)/2 rows (metadata-sized, 2080 doubles at d=64) no matter
    * the corpus size, so the eigen step belongs on the driver; the
    * expensive parts (Gram, mean) are the distributed passes above.
    *
    * Returns (eigenvector, eigenvalue λ₁, explained-variance share
    * λ₁/trace). Deterministic: fixed start vector e₀, fixed 64
    * iterations, no convergence-dependent branching.
    */
  def pcaTopComponent(gram: Array[(Int, Int, Double)], mean: Array[Double],
                      n: Long): (Array[Double], Double, Double) = {
    val d = Dim
    require(n > 0, "empty corpus")
    // covariance from the 6dp-grid Gram: C = S/n − m·mᵀ (grid units
    // squared → value units via 1e12)
    val c = Array.ofDim[Double](d, d)
    gram.foreach { case (i, j, s) =>
      val v = s / n / 1e12 - mean(i) * mean(j)
      c(i)(j) = v; c(j)(i) = v
    }
    var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
    var lambda = 0.0
    var it = 0
    while (it < 64) {
      val w = Array.tabulate(d)(i => {
        var s = 0.0; var j = 0
        while (j < d) { s += c(i)(j) * v(j); j += 1 }
        s
      })
      val norm = math.sqrt(w.map(x => x * x).sum)
      if (norm == 0.0) return (v, 0.0, 0.0)
      lambda = {
        var s = 0.0; var i = 0
        while (i < d) { s += v(i) * w(i); i += 1 }
        s
      }
      v = w.map(_ / norm)
      it += 1
    }
    val trace = (0 until d).map(i => c(i)(i)).sum
    (v, lambda, if (trace > 0) lambda / trace else 0.0)
  }
}
