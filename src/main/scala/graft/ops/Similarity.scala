package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Typed aggregator for [[Similarity.pcaFit]]'s dominant pass: sums the
  * centered outer products into ONE packed upper-triangle buffer
  * (dim·(dim+1)/2 doubles, i-major order) per partition, merged
  * executor-side. Replaces the earlier posexplode formulation, which
  * emitted dim·(dim+1)/2 ROWS per vector through a groupBy — correct,
  * but a ~10-50× constant at embedding dims ≥ 512 (dim=768 → ~295k rows
  * per vector through the shuffle). Here each vector is one tight j>=i
  * loop into a local array; the shuffle carries one packed triangle per
  * partition regardless of corpus size (the [[MinHashSignatureAgg]]
  * mergeable-buffer shape). Rows that are null or not exactly `dim` wide
  * are skipped — identical to the posexplode path, where empty/null
  * arrays emitted no positions (the mean pass has already rejected any
  * *mixed* non-zero dims before this runs). */
private[ops] final case class CovUpperAgg(mean: Array[Double])
    extends Aggregator[Seq[Double], Array[Double], Array[Double]] {
  private def dim = mean.length
  override def zero: Array[Double] = new Array[Double](dim * (dim + 1) / 2)
  override def reduce(buf: Array[Double], v: Seq[Double]): Array[Double] = {
    if (v != null && v.length == dim) {
      val c = new Array[Double](dim)
      var i = 0
      while (i < dim) { c(i) = v(i) - mean(i); i += 1 }
      var pos = 0
      i = 0
      while (i < dim) {
        val ci = c(i)
        var j = i
        while (j < dim) { buf(pos) += ci * c(j); pos += 1; j += 1 }
        i += 1
      }
    }
    buf
  }
  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
  override def finish(buf: Array[Double]): Array[Double] = buf
  override def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder()
}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers (SURVEY.md §2.3):
  *  - [[cosineTopK]]: brute-force exact — the query set is broadcast
  *    against the corpus, cosine via codegen'd higher-order fns. Right
  *    when |queries| is small; work is |Q|×|corpus| but embarrassingly
  *    parallel with zero shuffle on the corpus side.
  *  - [[annLsh]]: random-hyperplane LSH — corpus and queries are bucketed
  *    by signature, candidates come from a bucket equi-join, exact cosine
  *    is computed on candidates only. This is the 100 TB path: corpus-side
  *    cost is one projection + one shuffle on (table, signature).
  */
object Similarity {

  /** Cosine that refuses degenerate inputs instead of crashing the job:
    * under ANSI mode (the Spark 4 default) 0/0 is a runtime
    * DIVIDE_BY_ZERO error, so ONE all-zero embedding row in a 100 TB
    * corpus would kill every cosine op that scores it. The guarded form
    * yields NULL for a zero-norm (or NaN — `NaN > 0` is false) side;
    * every ranking here filters the NULLs or lets them sort last,
    * and non-degenerate rows compute the identical IEEE chain. */
  private def cosOrNull(num: Column, n1: Column, n2: Column): Column =
    when(n1 * n2 > 0, num / (n1 * n2))

  /** Double-precision dot product of two array columns — the native
    * codegen'd [[graft.functions.DotProduct]] expression (one fused
    * primitive loop; left-to-right accumulation, bit-identical to the
    * `aggregate(zip_with(...))` higher-order form and to DuckDB's
    * list_dot_product — VectorExprSpec pins the equivalence). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.vecDot(a, b)

  /** The composable higher-order formulation of [[dot]] (kept as the
    * reference semantics + used by the equivalence spec). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Exact cosine top-k of `corpus` for each row of `queries` (both need
    * `vec_id`, `embedding`; corpus also `label`). Ranking is on
    * round(cos, 4) with id tie-break so results are engine-stable. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("qe"))
      .withColumn("qn", norm(col("qe")))
    val c = corpus.select(col("vec_id").as("c_id"), col("label"),
      col("embedding").cast("array<double>").as("ce"))
      .withColumn("cn", norm(col("ce")))
    val sims = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), col("label"),
        round(cosOrNull(dot(col("qe"), col("ce")), col("qn"), col("cn")), 4)
          .as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("c_id"))
    sims.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "c_id", "label", "cos_sim")
  }

  /** Hard-negative mining for contrastive embedding training — per
    * anchor, the most-similar candidates that are NOT true matches
    * (different `label`: the near-misses that actually move a
    * contrastive loss; random negatives are trivially separable).
    * `candidates` is any `(q_id, c_id, label, cos_sim)` top-k frame —
    * `label` is the CANDIDATE's label and is REQUIRED: [[cosineTopK]]
    * and [[annIvf]] carry it natively; a label-less candidate source
    * ([[annIvfPq]] returns only ids/scores) needs its labels joined on
    * `c_id` first. Use the exact path for oracles, the ANN paths at
    * 100 TB (mining quality then depends on the ANN recall, which
    * SimilaritySpec floors). Same-label rows are
    * excluded (the label IS the ground truth here), `maxCos` drops
    * suspiciously-identical candidates (an unlabeled duplicate
    * masquerading as a negative poisons the loss — the
    * sentence-transformers false-negative guard; 1.0 = off), and each
    * anchor keeps its `k` best by (cos desc, c_id). Output:
    * `(q_id, anchor_label, neg_rank, c_id, neg_label, cos_sim)` —
    * join positives on label downstream to emit training triplets.
    *
    * Scale shape: one anchor-keyed join against the (small) label
    * table + one window over candidate-bounded rows; the expensive
    * part is the candidate source, which is chosen by the caller. */
  def hardNegatives(candidates: DataFrame, labels: DataFrame, k: Int,
                    maxCos: Double = 1.0): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val a = labels.select(col("vec_id").as("q_id"),
      col("label").as("anchor_label"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_sim").desc, col("c_id"))
    candidates.join(a, Seq("q_id"))
      .filter(col("label") =!= col("anchor_label") &&
        col("cos_sim") <= maxCos)
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= k)
      .select(col("q_id"), col("anchor_label"), col("neg_rank"),
        col("c_id"), col("label").as("neg_label"), col("cos_sim"))
  }

  /** Contrastive training triplets — [[hardNegatives]] joined with
    * each anchor's best SAME-label candidate (the in-batch positive):
    * one row per (anchor, negative) pair carrying the positive
    * alongside, which is exactly the `(a, p, n)` unit a triplet /
    * InfoNCE loss consumes. Anchors whose candidate pool holds no
    * same-label row emit nothing (no positive ⇒ no triplet — at
    * mining time that anchor needs a bigger candidate pool, not a
    * fabricated pair). Same `candidates` contract as
    * [[hardNegatives]]; the positive is the best by (cos desc, c_id).
    * Output: `(q_id, anchor_label, pos_id, pos_cos, neg_rank, neg_id,
    * neg_cos)`.
    *
    * Scale shape: ONE pass over the joined candidate frame — the
    * positive is a window argmax (a `max(struct)` whose negated-id
    * field breaks ties to the lowest c_id, mirroring
    * [[hardNegatives]]' (cos desc, c_id) order) carried alongside the
    * negative ranking, so the caller's candidate source — per its own
    * contract the expensive part — is never evaluated twice. */
  def trainingTriplets(candidates: DataFrame, labels: DataFrame,
                       kNeg: Int, maxCos: Double = 1.0): DataFrame = {
    require(kNeg >= 1, s"kNeg >= 1, got $kNeg")
    val a = labels.select(col("vec_id").as("q_id"),
      col("label").as("anchor_label"))
    val posStruct = max(when(col("label") === col("anchor_label"),
      struct(col("cos_sim").as("c"), (-col("c_id")).as("nid"))))
      .over(Window.partitionBy("q_id"))
    val wNeg = Window.partitionBy("q_id")
      .orderBy(col("cos_sim").desc, col("c_id"))
    candidates.join(a, Seq("q_id"))
      .withColumn("graft_pos", posStruct)
      .filter(col("label") =!= col("anchor_label") &&
        col("cos_sim") <= maxCos && col("graft_pos").isNotNull)
      .withColumn("neg_rank", row_number().over(wNeg).cast("long"))
      .filter(col("neg_rank") <= kNeg)
      .select(col("q_id"), col("anchor_label"),
        (-col("graft_pos.nid")).as("pos_id"),
        col("graft_pos.c").as("pos_cos"), col("neg_rank"),
        col("c_id").as("neg_id"), col("cos_sim").as("neg_cos"))
  }

  /** Semantic decontamination: flags every training vector whose
    * embedding sits within cosine `minCos` of ANY eval-benchmark vector
    * — the embedding-space sibling of `Curation.contaminationFlags`
    * (n-gram overlap), catching paraphrased/reformatted leakage that
    * token overlap misses.
    *
    * Contract mirrors [[cosineTopK]]: the eval set is benchmark-sized
    * (thousands of rows) and BROADCAST, so the scan is one pass over
    * the training corpus with no shuffle of embeddings at all — the
    * per-training-vector max folds through a map-side-combined
    * `max(struct)` aggregate, never a corpus-wide window. Train rows
    * with a null/zero-norm embedding are excluded (the cosineTopK
    * rule). For an eval set too big to broadcast, compose the LSH
    * bucket join with this exact confirm instead — lossy candidates,
    * same scoring.
    *
    * Determinism: cosines are rounded to 4 decimals BEFORE the argmax
    * (the q40 precedent), ties broken toward the LOWEST eval id via the
    * negated-id struct max.
    *
    * The benchmark-sized contract is ENFORCED, not assumed: the eval set
    * is counted first and an oversized one fails loudly (listing the
    * composition escape hatch) instead of OOMing the executors mid-scan —
    * at `maxEvalRows` = 250k and a 768-dim double embedding the broadcast
    * is ~1.5 GB, the sane ceiling for an executor-resident table. The
    * count is one O(|eval|) job on the SMALL side, noise next to the
    * corpus scan it guards.
    *
    * @return (vec_id, contaminated, best_eval_id, best_cos) — one row
    *         per valid training vector; `contaminated` ⇔ best_cos ≥ minCos
    */
  def semanticContaminationFlags(train: DataFrame, evalSet: DataFrame,
                                 minCos: Double,
                                 maxEvalRows: Long = 250000L): DataFrame = {
    require(maxEvalRows > 0, s"maxEvalRows must be positive, got $maxEvalRows")
    val t = Spread.cpu(train).select(col("vec_id"),
      col("embedding").cast("array<double>").as("te"))
      .withColumn("tn", norm(col("te")))
    val ev = evalSet.select(col("vec_id").as("eval_id"),
      col("embedding").cast("array<double>").as("ee"))
      .withColumn("en", norm(col("ee")))
    val evalRows = ev.count()
    require(evalRows <= maxEvalRows,
      s"semanticContaminationFlags eval set has $evalRows rows > " +
        s"maxEvalRows=$maxEvalRows — too big to broadcast against the " +
        "corpus. Shrink/partition the eval set, raise maxEvalRows if the " +
        "cluster's executors can hold it, or compose lshCosineCandidates " +
        "with an exact-cosine confirm for the LSH-bucketed (lossy) path.")
    t.crossJoin(broadcast(ev))
      .select(col("vec_id"), col("eval_id"),
        round(cosOrNull(dot(col("te"), col("ee")), col("tn"), col("en")), 4)
          .as("c"))
      .filter(col("c").isNotNull)
      .groupBy("vec_id")
      .agg(max(struct(col("c"), (-col("eval_id")).as("neg"))).as("best"))
      .select(col("vec_id"),
        (col("best.c") >= minCos).as("contaminated"),
        (-col("best.neg")).as("best_eval_id"),
        col("best.c").as("best_cos"))
  }

  /** Deterministic Lloyd's k-means on a driver-side sample — the IVF
    * coarse-quantizer trainer. Centroid training is inherently a
    * small-sample problem (faiss-style IVF trains on ~100k vectors even
    * for billion-vector corpora), so the sample is collected and iterated
    * locally: zero Spark jobs per iteration, exactly reproducible. Empty
    * clusters keep their previous center. */
  private[ops] def localKMeans(points: Array[Array[Double]], k: Int,
                               iters: Int, seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs a non-empty training sample")
    val dim = points.head.length
    val rnd = new scala.util.Random(seed)
    val centers = rnd.shuffle(points.indices.toVector).take(k)
      .map(points(_).clone).toArray
    val assign = new Array[Int](points.length)
    for (_ <- 0 until iters) {
      var p = 0
      while (p < points.length) {
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < centers.length) {
          var d = 0d; var j = 0
          while (j < dim) { val t = points(p)(j) - centers(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(p) = best
        p += 1
      }
      val sums = Array.fill(centers.length)(new Array[Double](dim))
      val counts = new Array[Int](centers.length)
      p = 0
      while (p < points.length) {
        val c = assign(p); counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += points(p)(j); j += 1 }
        p += 1
      }
      var c = 0
      while (c < centers.length) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { centers(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
    }
    centers
  }

  /** IVF (inverted-file) approximate NN: a coarse k-means quantizer
    * partitions the corpus into `nlist` cells; each query probes its
    * `nprobe` nearest cells and ranks exact cosine within them. The
    * cluster-scale shape: quantizer training is a bounded driver-side
    * sample ([[localKMeans]]); corpus-side cost is one assignment
    * projection + a shuffle on cell id; probe cost is |queries| × nprobe
    * cells. Fixed seed + sorted sample → deterministic cells. */
  // `spark` is retained for source compatibility only — train+search now
  // derive everything from the DataFrames (see trainIvfCenters/annIvfWith)
  def annIvf(spark: org.apache.spark.sql.SparkSession, queries: DataFrame,
             corpus: DataFrame, k: Int, nlist: Int = 16, nprobe: Int = 3,
             trainCap: Int = 4096): DataFrame =
    annIvfWith(queries, corpus,
      trainIvfCenters(corpus, nlist, trainCap), k, nprobe)

  /** Train the IVF coarse quantizer and return its centroid matrix —
    * separated from [[annIvf]] so a 100 TB deployment trains ONCE and
    * reuses the centers across every subsequent search batch (faiss
    * train/add/search shape) via [[annIvfWith]]. Bounded, order-stable
    * sample — at 100 TB prepend .sample(fraction) sized so ~trainCap rows
    * survive; training never iterates over the full corpus. */
  def trainIvfCenters(corpus: DataFrame, nlist: Int = 16,
                      trainCap: Int = 4096, iters: Int = 5,
                      seed: Long = 42L): Array[Array[Double]] = {
    val sample = corpus.select(col("vec_id"), col("embedding").cast("array<double>"))
      .orderBy("vec_id").limit(trainCap)
      .collect().map(_.getSeq[Double](1).toArray)
    localKMeans(sample, nlist, iters, seed)
  }

  /** IVF search against a pre-trained quantizer ([[trainIvfCenters]]):
    * the recurring-batch form of [[annIvf]] — no training jobs, the
    * centroid matrix is a plan literal. */
  def annIvfWith(queries: DataFrame, corpus: DataFrame,
                 centers: Array[Array[Double]], k: Int,
                 nprobe: Int = 3): DataFrame = {
    // cell assignment: native codegen'd expression; the centroid matrix
    // rides along as a plan reference object (nlist × dim doubles), so no
    // broadcast variable or interpreted UDF on the corpus-scan hot path
    def cellsOf(v: Column) =
      graft.functions.VectorFunctions.nearestCells(v, centers, nprobe)
    val c = corpus.select(col("vec_id").as("c_id"), col("label"),
        col("embedding").cast("array<double>").as("ce"))
      .withColumn("cn", norm(col("ce")))
      // get() not element_at: a dirty corpus vector has NO cells, and
      // ANSI element_at would fail the scan; a null cell joins nothing,
      // matching the query side where explode() drops the empty array
      .withColumn("cell", get(cellsOf(col("ce")), lit(0)))
    val q = queries.select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("qe"))
      .withColumn("qn", norm(col("qe")))
      .withColumn("cell", explode(cellsOf(col("qe"))))
    val sims = c.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), col("label"),
        round(cosOrNull(dot(col("qe"), col("ce")), col("qn"), col("cn")), 4)
          .as("cos_sim"))
      // a zero-norm vector on either side has no cosine: drop the NULL
      // rather than crash (ANSI 0/0) or rank garbage
      .filter(col("cos_sim").isNotNull)
      .dropDuplicates("q_id", "c_id")
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("c_id"))
    sims.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "c_id", "label", "cos_sim")
  }

  /** Hard cluster assignment against a fixed centroid matrix: nearest
    * center by squared-L2, ties to the lower index (the
    * [[graft.functions.IvfCells]] rule — bit-identical to a stable sort,
    * and exactly mirrorable in oracle SQL). The centers ride as a plan
    * reference object inside a codegen'd expression, so the corpus-side
    * cost is one embarrassingly-parallel projection — no broadcast
    * variable, no UDF serde, no shuffle. */
  def kmeansAssign(corpus: DataFrame,
                   centers: Array[Array[Double]]): DataFrame = {
    require(centers.nonEmpty, "kmeansAssign needs at least one center")
    val v = col("embedding").cast("array<double>").as("v")
    // get() (0-based), not element_at: a dim-mismatched vector gets an
    // EMPTY cells array from nearestCells, and under ANSI mode (the
    // Spark 4 default) element_at on it throws instead of yielding the
    // null this op documents for dirty rows
    corpus.select(col("vec_id"), v)
      .withColumn("cluster",
        get(graft.functions.VectorFunctions.nearestCells(
          col("v"), centers, 1), lit(0)).cast("long"))
  }

  /** Distributed Lloyd's k-means over the FULL corpus — the companion to
    * [[trainIvfCenters]] (which trains on a bounded driver sample, the
    * faiss default) for when the quantizer must see every vector: each
    * iteration is one [[kmeansAssign]] projection plus one
    * posexplode→groupBy(cluster, dim) partial-aggregated mean; only the
    * k×dim centroid matrix ever reaches the driver (control-plane
    * sized), so per-iteration cost is two corpus passes and a k·dim
    * shuffle regardless of corpus size. Initial centers are the k
    * lowest-vec_id vectors (deterministic, rerun-stable — same rationale
    * as trainIvfCenters' sorted sample); an emptied cluster keeps its
    * previous center, matching [[localKMeans]]. Centroid means are
    * distributed sums, so they match a sequential reference only to
    * summation-order noise — SimilaritySpec bounds the drift and pins
    * assignment equality. */
  def kmeansFit(corpus: DataFrame, k: Int, iters: Int = 5): Array[Array[Double]] = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got k=$k iters=$iters")
    val vecs = corpus.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // a NULL embedding among the k lowest vec_ids would NPE the getSeq
    // below with no useful message — skip nulls here, the same guard
    // pqTrainSampledResidual applies to its sample collect
    var centers = vecs.filter(col("v").isNotNull).orderBy("vec_id").limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    require(centers.length == k,
      s"corpus has only ${centers.length} vectors for k=$k initial centers")
    // a dirty vector among the k lowest ids would seed a ragged centroid
    // matrix — nearestCells refuses those, but failing here names the
    // actual culprit instead of a flatten-shape mismatch downstream
    require(centers.forall(_.length == centers.head.length),
      s"kmeansFit: initial centers (k lowest vec_ids) have mixed dimensions " +
        centers.map(_.length).distinct.mkString("/") +
        " — filter dirty embeddings before fitting")
    for (_ <- 0 until iters) {
      val dims = kmeansAssign(corpus, centers)
        // a dim-mismatched/dirty vector gets NO cell from nearestCells
        // (cluster null) — drop it from the update instead of letting a
        // null key reach the primitive getLong below
        .filter(col("cluster").isNotNull)
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos")
        .agg(sum("x").as("s"), count(lit(1)).as("n"))
        .collect() // k × dim rows — control-plane sized by construction
      val next = centers.map(_.clone)
      dims.foreach { r =>
        next(r.getLong(0).toInt)(r.getInt(1)) =
          r.getDouble(2) / r.getLong(3)
      }
      centers = next
    }
    centers
  }

  /** Product-quantization codebooks: `m` subspaces of `dsub` dims each,
    * with `codebooks(s)(c)` = centroid `c` of subspace `s` — the
    * compression half of an IVF-PQ index ([[trainIvfCenters]] prunes the
    * search space; PQ shrinks each resident vector to `m` small codes so
    * a 100 TB corpus's index fits in cluster RAM). */
  final case class PqModel(dsub: Int, codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def ksub: Int = codebooks.head.length
    def dim: Int = m * dsub
  }

  /** Train PQ codebooks: an independent [[kmeansFit]] per subspace over
    * the sliced corpus (`dim` must split evenly into `m` subspaces).
    * Inherits kmeansFit's deterministic k-lowest-vec_id init, so
    * `iters = 0` is the rerun-stable untrained quantizer the q118/q119
    * oracles mirror in SQL. Cost: m · iters · 2 corpus passes, each an
    * embarrassingly-parallel projection plus a ksub×dsub control-plane
    * collect; like faiss, train on a bounded sample (pass a sampled
    * corpus) when m · iters full passes is too much scan. */
  def pqTrain(corpus: DataFrame, m: Int, ksub: Int, iters: Int = 5): PqModel = {
    require(m >= 1 && ksub >= 1, s"need m >= 1, ksub >= 1; got m=$m ksub=$ksub")
    // dim by consensus, not by sniffing one row: a truncated lowest-id
    // vector would silently retarget the whole model to the wrong dim
    // (every slice of every row still LOOKS uniform after slicing, so
    // kmeansFit's ragged-init guard never fires) and the encode-side
    // full-dim guard would then null out every CLEAN row. One cheap
    // map-side-distinct pass over a single int column, amortized by the
    // m·iters training passes that follow.
    val dims = corpus.select(size(col("embedding")).as("d"))
      .filter(col("d").isNotNull).distinct().collect().map(_.getInt(0)).sorted
    require(dims.length == 1,
      s"pqTrain: corpus mixes embedding dimensions ${dims.mkString("/")} — " +
        "filter dirty embeddings before fitting")
    val dim = dims.head
    require(dim % m == 0, s"embedding dim $dim not divisible into m=$m subspaces")
    val dsub = dim / m
    val books = (0 until m).map { s =>
      val sub = corpus.select(col("vec_id"),
        slice(col("embedding").cast("array<double>"), s * dsub + 1, dsub)
          .as("embedding"))
      kmeansFit(sub, ksub, iters)
    }.toArray
    PqModel(dsub, books)
  }

  /** Driver-side twin of the native `IvfCells` nearest-cell rule
    * (squared-L2 argmin, ties to the LOWER index) — used only to form
    * TRAINING residuals in [[pqTrainSampledResidual]], where the sample
    * already lives on the driver and a Spark job per sample row would be
    * absurd. Kept next to the training code and pinned equal to the
    * native rule by SimilaritySpec so the two cannot drift silently. */
  private[graft] def nearestCellLocal(v: Array[Double],
                                    centers: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < centers.length) {
      var d = 0d; var j = 0
      while (j < v.length) { val t = v(j) - centers(c)(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** [[pqTrain]]'s bounded-sample companion on IVF RESIDUALS — the
    * faiss IndexIVFPQ training recipe (by_residual): codebooks are fit to
    * `x − center(cell(x))` rather than to `x`, which is what makes
    * IVF-PQ rank WITHIN a cell. On clustered data the raw-vector
    * codebooks spend their ksub centroids separating the clusters the
    * coarse quantizer already separated, so every member of a tight
    * cluster collapses to one code and ADC degenerates to the vec_id
    * tie-break; residuals re-center every cell at the origin and the
    * same ksub centroids resolve within-cell structure instead
    * (Jégou, Douze & Schmid, "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011, §IV). Bounded-sample contract (the
    * [[trainIvfCenters]] shape): ONE order-stable collect of ≤ trainCap
    * non-null vectors, then [[localKMeans]] per subspace slice entirely
    * on the driver — zero per-subspace corpus passes, so training cost
    * is independent of both corpus size and m. At 100 TB prepend
    * .sample(fraction) sized so ~trainCap rows survive. Use this trainer for [[pqIndex]] +
    * [[annIvfPq]]/[[annIvfPqAdc]]; the flat-PQ family
    * ([[pqEncode]]/[[pqDecode]]/[[pqAdcTopK]]) keeps raw-vector
    * training. */
  def pqTrainSampledResidual(corpus: DataFrame,
                             ivfCenters: Array[Array[Double]], m: Int,
                             ksub: Int, trainCap: Int = 4096,
                             iters: Int = 5, seed: Long = 42L): PqModel = {
    require(m >= 1 && ksub >= 1, s"need m >= 1, ksub >= 1; got m=$m ksub=$ksub")
    val sample = corpus.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .filter(col("e").isNotNull)
      .orderBy("vec_id").limit(trainCap)
      .collect().map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "pqTrainSampledResidual needs a non-empty corpus")
    val dims = sample.map(_.length).distinct.sorted
    require(dims.length == 1,
      s"pqTrainSampledResidual: sample mixes embedding dimensions " +
        s"${dims.mkString("/")} — filter dirty embeddings before fitting")
    val dim = dims.head
    require(ivfCenters.forall(_.length == dim),
      s"IVF centers have dim ${ivfCenters.head.length}, corpus has $dim")
    require(dim % m == 0, s"embedding dim $dim not divisible into m=$m subspaces")
    val dsub = dim / m
    val residuals = sample.map { v =>
      val c = ivfCenters(nearestCellLocal(v, ivfCenters))
      Array.tabulate(dim)(j => v(j) - c(j))
    }
    val books = (0 until m).map { s =>
      localKMeans(residuals.map(v => java.util.Arrays.copyOfRange(
        v, s * dsub, (s + 1) * dsub)), ksub, iters, seed)
    }.toArray
    PqModel(dsub, books)
  }

  /** Encode each vector to its `m` sub-centroid codes: squared-L2 argmin
    * per subspace slice — the [[graft.functions.IvfCells]] rule (ties to
    * the lower index), one codegen'd [[graft.functions.NearestCells]]
    * per subspace with the codebook riding as a plan reference object.
    * One embarrassingly-parallel projection, no shuffle. The dimension
    * guard is on the FULL vector, not the slices: a truncated row's
    * leading slices and an over-long row's prefix both LOOK well-formed
    * subspace-by-subspace and would silently encode — the misaligned
    * scoring NearestCells itself exists to refuse — so any row whose
    * length differs from model.dim gets all-null codes, which every
    * consumer here filters rather than mis-scores. */
  def pqEncode(corpus: DataFrame, model: PqModel): DataFrame =
    corpus.select(col("vec_id"), pqCodesExpr(model).as("codes"))

  /** The [[pqEncode]] codes expression against an `embedding` column —
    * shared with [[pqIndex]] so index building is ONE projection. */
  private def pqCodesExpr(model: PqModel): Column =
    pqCodesExprOf(model, col("embedding").cast("array<double>"))

  /** [[pqCodesExpr]] against an arbitrary vector expression — lets
    * [[pqIndex]] encode the IVF RESIDUAL instead of the raw vector. */
  private def pqCodesExprOf(model: PqModel, v: Column): Column =
    array(model.codebooks.toIndexedSeq.zipWithIndex.map { case (cb, s) =>
      when(size(v) === model.dim,
        get(graft.functions.VectorFunctions.nearestCells(
          slice(v, s * model.dsub + 1, model.dsub), cb, 1), lit(0)))
    }: _*)

  /** The IVF cell-center vector for a `cell` id column, read out of the
    * flattened (cell-major) centroid literal `cLit` — shared by the
    * residual encode ([[pqIndex]]) and decode ([[annIvfPq]]) sides so
    * the two cannot drift. NULL cell (dirty row) null-propagates. */
  private def cellCenterExpr(cLit: Column, dim: Int, cell: Column): Column =
    transform(sequence(lit(1), lit(dim)),
      j => element_at(cLit, cell * dim + j))

  /** Reconstruct approximate embeddings from PQ codes: concatenate the
    * `m` codebook entries the codes name — the inverse of [[pqEncode]]
    * up to quantization error. One join-free codegen projection (the
    * codebooks ride as ONE flattened plan literal; each output element
    * is an element_at against it), so every existing vector op —
    * [[cosineTopK]], [[annIvfWith]], [[centroidOutliers]] — composes
    * with a PQ-compressed corpus by decoding inline instead of storing
    * dim floats per vector. A dirty row's all-null codes null-propagate
    * to a null vector, the same refuse-don't-mis-score contract as
    * encode. */
  def pqDecode(encoded: DataFrame, model: PqModel): DataFrame =
    encoded.select(col("vec_id"), pqReconExpr(model).as("embedding"))

  /** The [[pqDecode]] reconstruction expression against a `codes`
    * column — shared with [[annIvfPq]]'s candidate scoring. The refuse
    * guard needs BOTH checks: a shorter-than-m codes array
    * (different-model leftover, empty array) has no null elements, but
    * zip_with would pad the missing positions and reconstruct a
    * non-null vector CONTAINING nulls — a malformed row downstream. */
  private def pqReconExpr(model: PqModel): Column = {
    val fLit = typedLit(model.codebooks.flatten.flatten.toSeq) // s, c, j major
    val dsub = model.dsub
    val ksub = model.ksub
    val recon = flatten(transform(
      zip_with(col("codes"), sequence(lit(0), lit(model.m - 1)),
        (c, s) => (s * lit(ksub) + c) * lit(dsub)),
      off => transform(sequence(lit(1), lit(dsub)),
        j => element_at(fLit, off + j))))
    when(size(col("codes")) === model.m &&
      !exists(col("codes"), c => c.isNull), recon)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query's m×ksub
    * distance table is computed on the driver (control-plane sized) and
    * rides into codegen as ONE literal array, so the per-row cost is m
    * lookups + adds over the codes — the embedding column is never read,
    * which is the point: at 100 TB the scan touches m codes per vector,
    * not dim floats. Ascending approximate squared-L2, ties to the lower
    * vec_id, top-k via TakeOrderedAndProject (no full sort). Code
    * collisions sum bit-identical table entries in one fixed order, so
    * equal-code rows tie EXACTLY and fall to the vec_id break; dirty
    * rows (null codes) null-propagate through the lookup sum and are
    * filtered. */
  def pqAdcTopK(encoded: DataFrame, model: PqModel, queryVec: Array[Double],
                k: Int): DataFrame = {
    require(queryVec.length == model.dim,
      s"query dim ${queryVec.length} != model dim ${model.dim}")
    require(k >= 1, s"k >= 1, got $k")
    val ksub = model.ksub
    val table = new Array[Double](model.m * ksub)
    for (s <- 0 until model.m; c <- 0 until ksub) {
      val cb = model.codebooks(s)(c)
      var acc = 0d
      var j = 0
      while (j < model.dsub) {
        val t = queryVec(s * model.dsub + j) - cb(j); acc += t * t; j += 1
      }
      table(s * ksub + c) = acc
    }
    val tLit = typedLit(table.toSeq)
    val dist = aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(model.m - 1)),
        (c, s) => element_at(tLit, s * lit(ksub) + c + 1)),
      lit(0d), (acc, x) => acc + x)
    encoded.select(col("vec_id"), dist.as("adc_dist"))
      .filter(col("adc_dist").isNotNull)
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("adc_dist"), col("vec_id"))).cast("long"))
  }

  /** Build the compressed IVF-PQ index in ONE pass:
    * (vec_id, cell, codes) — the coarse cell from the IVF quantizer,
    * then PQ codes of the RESIDUAL `x − center(cell)` (faiss IndexIVFPQ
    * by_residual; train the model with [[pqTrainSampledResidual]]).
    * Encoding the residual instead of the raw vector is what lets the
    * fixed code budget rank within a cell — see the trainer's scaladoc.
    * This is the artifact a 100 TB deployment persists and scans
    * INSTEAD of the float vectors: one int + m small codes per vector
    * (64-dim float32 → ~50× smaller). Two chained projections (the cell
    * id feeds the residual), zero shuffle. Dirty rows keep the refuse
    * contract of both halves: null cell, all-null codes. */
  def pqIndex(corpus: DataFrame, ivfCenters: Array[Array[Double]],
              model: PqModel): DataFrame = {
    val dim = model.dim
    require(ivfCenters.forall(_.length == dim),
      s"IVF centers have dim ${ivfCenters.head.length}, PQ model has $dim")
    val cLit = typedLit(ivfCenters.flatten.toSeq)
    corpus
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        get(graft.functions.VectorFunctions.nearestCells(
          col("embedding").cast("array<double>"), ivfCenters, 1), lit(0))
          .as("cell"))
      .select(col("vec_id"), col("cell"),
        // the explicit guard matters: a NULL cell (dirty/wrong-dim row)
        // makes cellCenterExpr a non-null array OF nulls, and zip_with
        // would hand the code argmin an array with null elements —
        // unsafe getDouble on those is garbage, not an error
        when(col("cell").isNotNull && size(col("v")) === dim,
          pqCodesExprOf(model, zip_with(col("v"),
            cellCenterExpr(cLit, dim, col("cell")),
            (x, c) => x - c))).as("codes"))
  }

  /** IVF-PQ batch search: [[annIvfWith]]'s cell pruning over a
    * [[pqIndex]] — candidates come from each query's nprobe cells via a
    * broadcast equi-join, and scoring DECODES the candidate from its
    * codes (codebook plan literal) to take exact cosine against the
    * query, so the corpus float vectors are never read at search time.
    *
    * `index` must be a MATERIALIZED artifact — a read of the persisted
    * index stream, a cached/checkpointed frame — per the train/ADD/search
    * contract. Passing the raw [[pqIndex]] plan composes correctly but
    * re-expands the encode expression tree into every decode reference
    * (the size/exists guards and the reconstruction each re-evaluate the
    * m-way code argmin — measured 14× on the q121 bench); at 100 TB the
    * index is the thing you persisted instead of the floats anyway.
    * Decode costs dim mults (vs m lookups for the single-query
    * [[pqAdcTopK]]) — the price of a whole bounded query batch in one
    * join — and sits BELOW the join, once per index row per batch, the
    * cheaper side whenever the batch's probed cells cover most of the
    * corpus (per-pair decode would pay |Q|·nprobe/nlist times that).
    * Same output shape as [[annIvfWith]] minus `label` (the index
    * deliberately carries no payload columns). */
  def annIvfPq(queries: DataFrame, index: DataFrame,
               ivfCenters: Array[Array[Double]], model: PqModel, k: Int,
               nprobe: Int = 3): DataFrame = {
    val dim = model.dim
    require(ivfCenters.forall(_.length == dim),
      s"IVF centers have dim ${ivfCenters.head.length}, PQ model has $dim")
    val cLit = typedLit(ivfCenters.flatten.toSeq)
    // decode = center(cell) + reconstructed residual — the inverse of
    // [[pqIndex]]'s residual encode, sharing cellCenterExpr with it
    val c = index
      .filter(col("cell").isNotNull)
      .select(col("vec_id").as("c_id"), col("cell"),
        zip_with(pqReconExpr(model), cellCenterExpr(cLit, dim, col("cell")),
          (r, cc) => r + cc).as("ce"))
      .filter(col("ce").isNotNull)
      .withColumn("cn", norm(col("ce")))
    val q = queries.select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("qe"))
      .withColumn("qn", norm(col("qe")))
      .withColumn("cell", explode(
        graft.functions.VectorFunctions.nearestCells(col("qe"), ivfCenters,
          nprobe)))
    val sims = c.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(cosOrNull(dot(col("qe"), col("ce")), col("qn"), col("cn")), 4)
          .as("cos_sim"))
      // zero-norm query or zero-decoded candidate has no cosine: drop
      // the NULL rather than crash (ANSI 0/0) or rank garbage
      .filter(col("cos_sim").isNotNull)
      .dropDuplicates("q_id", "c_id")
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("c_id"))
    sims.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "c_id", "cos_sim")
  }

  /** IVF-PQ batch search, pure-ADC scoring — the faiss IndexIVFPQ
    * shape and the arithmetic-minimal path. The index codes are IVF
    * RESIDUALS ([[pqIndex]]), so the distance table is per (query,
    * probed cell): entry (s, c) = ||slice_s(q − center(cell)) − cb_s,c||²,
    * making Σ lookups ≈ ||q − x||² for a candidate x in that cell
    * (faiss precomputed-tables recipe, Jégou et al. 2011 §IV). ALL
    * |Q|·nprobe tables ship as ONE flat plan literal
    * (|Q|·nprobe·m·ksub doubles — bounded query set, same contract as
    * [[cosineTopK]]), so scoring a candidate pair costs m array lookups
    * + adds against its codes. Versus [[annIvfPq]]'s decode-then-cosine
    * (dim mults per pair), that is a ~dim/m cut in join-side
    * arithmetic; the trade is the metric — ADC approximates squared-L2,
    * ascending, not cosine. Ties to the lower c_id; a dirty QUERY
    * vector fails loudly up front (its table cannot be built), dirty
    * index rows null-propagate out as everywhere. */
  def annIvfPqAdc(queries: DataFrame, index: DataFrame,
                  ivfCenters: Array[Array[Double]], model: PqModel, k: Int,
                  nprobe: Int = 3): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    require(ivfCenters.forall(_.length == model.dim),
      s"IVF centers have dim ${ivfCenters.head.length}, PQ model has ${model.dim}")
    // null embeddings join the wrong-dim vectors in the LOUD failure —
    // a bare getSeq.toArray would NPE before the named require fires
    val qRaw = queries
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), Option(r.getSeq[Double](1)).map(_.toArray)))
    require(qRaw.nonEmpty, "annIvfPqAdc needs a non-empty query set")
    val dirtyQ = qRaw.filter(!_._2.exists(_.length == model.dim)).map(_._1)
    require(dirtyQ.isEmpty,
      s"annIvfPqAdc: query vectors ${dirtyQ.mkString(",")} are null or have " +
        s"dim != ${model.dim} — filter dirty queries before searching")
    val qRows = qRaw.map { case (id, v) => (id, v.get) }
    val m = model.m; val ksub = model.ksub; val dsub = model.dsub
    val stride = m * ksub
    // probe lists come from the SAME native NearestCells rule the index
    // was built with — evaluated in one tiny |Q|-row job rather than a
    // hand-rolled driver argmin that could drift from it
    val spark = queries.sparkSession
    import spark.implicits._
    val probeLists = qRows.zipWithIndex
      .map { case ((_, qv), qi) => (qi, qv.toSeq) }.toSeq
      .toDF("qi", "qe")
      .select(col("qi"), graft.functions.VectorFunctions
        .nearestCells(col("qe"), ivfCenters, nprobe).as("cells"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Int](1).toArray)
      .toMap
    val nprobeEff = probeLists.values.head.length
    val flatTables = new Array[Double](qRows.length * nprobeEff * stride)
    for (((_, qv), qi) <- qRows.zipWithIndex;
         (cell, r) <- probeLists(qi).zipWithIndex;
         s <- 0 until m; c <- 0 until ksub) {
      val center = ivfCenters(cell)
      val cb = model.codebooks(s)(c)
      var acc = 0d; var j = 0
      while (j < dsub) {
        val t = (qv(s * dsub + j) - center(s * dsub + j)) - cb(j)
        acc += t * t; j += 1
      }
      flatTables((qi * nprobeEff + r) * stride + s * ksub + c) = acc
    }
    val tLit = typedLit(flatTables.toSeq)
    // the query side re-enters the plan as (q_id, ti, cell) rows — ti
    // names the (query, probe-rank) table block the scorer reads
    val q = qRows.zipWithIndex.flatMap { case ((id, _), qi) =>
      probeLists(qi).zipWithIndex.map { case (cell, r) =>
        (id, qi * nprobeEff + r, cell)
      }
    }.toSeq.toDF("q_id", "ti", "cell")
    val scored = index.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("adc_dist", aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (c, s) => element_at(tLit,
            col("ti") * stride + s * lit(ksub) + c + 1)),
        lit(0d), (acc, x) => acc + x))
      .filter(col("adc_dist").isNotNull)
      // the sibling defense (annIvfWith/annIvfPq): duplicate index ids
      // must not consume top-k slots as repeated (q_id, c_id) pairs
      .dropDuplicates("q_id", "vec_id")
    val w = Window.partitionBy("q_id").orderBy(col("adc_dist"), col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_id").as("c_id"),
        col("adc_dist"))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — the
    * control-plane half of [[pcaFit]] (dim×dim, e.g. 64×64 for the
    * fixture embeddings; runs in microseconds on the driver).
    * Deterministic: fixed sweep order, fixed convergence threshold.
    * Returns (eigenvalues, eigenvectors as rows), unsorted. */
  private[ops] def jacobiEigen(a0: Array[Array[Double]],
                               sweeps: Int = 50): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone)
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < sweeps && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // t = sign(θ)/(|θ|+√(θ²+1)) with sign(0) := 1, the standard
            // smaller-angle choice (θ=0 rotates by π/4)
            val st = if (theta >= 0) 1.0 else -1.0
            val t = st / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val eig = Array.tabulate(n)(i => a(i)(i))
    val vecs = Array.tabulate(n)(j => Array.tabulate(n)(i => v(i)(j))) // rows
    (eig, vecs)
  }

  final case class PcaModel(mean: Array[Double],
                            components: Array[Array[Double]],
                            explainedVariance: Array[Double])

  /** Distributed PCA with the one-pass-covariance shape that scales:
    * pass 1 computes the dim-wise mean, pass 2 accumulates the centered
    * outer-product sums (dim² partial sums, map-side combined — the
    * shuffle carries dim² doubles per partition regardless of corpus
    * size), and the dim×dim eigenproblem solves on the driver with a
    * deterministic cyclic [[jacobiEigen]] — the control-plane split of
    * [[kmeansFit]]/[[trainIvfCenters]] again. NO per-iteration corpus
    * passes (power iteration would pay k·iters of them). Components are
    * sorted by eigenvalue descending with a deterministic sign
    * convention (largest-|coordinate| entry made positive, lowest index
    * on ties), so refits reproduce bit-comparable models. Covariance is
    * the unbiased (n−1) estimator, accumulated over the UPPER TRIANGLE
    * only (dim·(dim+1)/2 positions — symmetry halves the dominant pass)
    * by the typed [[CovUpperAgg]] — one packed buffer per partition
    * through the shuffle, NOT one row per triangle element per vector —
    * and mirrored on the driver. A corpus mixing two non-zero dimensions
    * is rejected up front (a silent mixed-dim fit would corrupt every
    * component); empty/null embeddings contribute nothing to either pass,
    * so they are excluded from the fit (and from n) rather than
    * rejected. */
  def pcaFit(corpus: DataFrame, k: Int): PcaModel = {
    require(k >= 1, s"k >= 1, got $k")
    val vecs = corpus.select(col("embedding").cast("array<double>").as("v"))
    val meanRows = vecs.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(sum("x").as("s"), count(lit(1)).as("n"))
      .collect()
    require(meanRows.nonEmpty, "pcaFit needs a non-empty corpus")
    val dim = meanRows.length
    val n = meanRows.map(_.getLong(2)).max
    require(meanRows.forall(_.getLong(2) == n),
      s"pcaFit: mixed embedding dimensions in corpus (expected $dim everywhere)")
    require(k <= dim, s"k=$k exceeds embedding dim $dim")
    require(n >= 2, s"pcaFit needs >= 2 vectors, got $n")
    val mean = new Array[Double](dim)
    meanRows.foreach(r => mean(r.getInt(0)) = r.getDouble(1) / r.getLong(2))
    // centered outer products, upper triangle only, via [[CovUpperAgg]]:
    // per vector one tight loop into a packed dim·(dim+1)/2 buffer,
    // map-side combined — ONE pass, ONE merged triangle on the driver,
    // mirrored below. (The earlier posexplode formulation shuffled
    // dim·(dim+1)/2 rows per vector — a 10-50× constant at dim ≥ 512.)
    val covAgg = udaf(CovUpperAgg(mean), ExpressionEncoder[Seq[Double]]())
    val packed = vecs.select(covAgg(col("v")).as("tri"))
      .head().getSeq[Double](0)
    // flattened upper-triangle position → (i, j), same i-major order
    val posToIj = (for { i <- 0 until dim; j <- i until dim } yield (i, j)).toArray
    val cov = Array.ofDim[Double](dim, dim)
    var p = 0
    while (p < packed.length) {
      val (i, j) = posToIj(p)
      val v = packed(p) / (n - 1)
      cov(i)(j) = v; cov(j)(i) = v
      p += 1
    }
    val (eig, vecsAll) = jacobiEigen(cov)
    val order = eig.indices.sortBy(i => (-eig(i), i)).take(k)
    val comps = order.map { i =>
      val w = vecsAll(i).clone
      // sign convention: the largest-|coordinate| (lowest index on ties)
      // entry is positive — eigenvectors are sign-ambiguous otherwise
      val j = w.indices.maxBy(jj => (math.abs(w(jj)), -jj))
      if (w(j) < 0) { var t = 0; while (t < w.length) { w(t) = -w(t); t += 1 } }
      w
    }.toArray
    PcaModel(mean, comps, order.map(eig(_)).toArray)
  }

  /** Project an embedding column onto a fitted [[PcaModel]]: adds
    * `pc1..pck` columns, each one native dot product against a plan
    * literal — pure projection, zero shuffle, whole-stage codegen (the
    * [[kmeansAssign]] shape). The projection is of the CENTERED vector,
    * the standard convention. */
  def pcaProject(corpus: DataFrame, model: PcaModel): DataFrame = {
    val meanLit = typedLit(model.mean.toSeq)
    val centered = zip_with(col("embedding").cast("array<double>"), meanLit,
      (x, m) => x - m)
    model.components.zipWithIndex.foldLeft(corpus) { case (df, (pc, i)) =>
      df.withColumn(s"pc${i + 1}", dot(centered, typedLit(pc.toSeq)))
    }
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    * greedily pick `k` documents maximizing
    * λ·cos(v, query) − (1−λ)·max_{s∈selected} cos(v, s) — the standard
    * diverse-subset recipe for retrieval contexts and training-data
    * selection (high relevance, low redundancy; λ=1 degenerates to plain
    * top-k). Inherently sequential (each pick changes the next round's
    * penalty), so the shape is the q103/WPE one: k driver-coordinated
    * rounds, each one distributed scoring pass over the candidates plus
    * a ONE-ROW argmax collect — control-plane traffic only. Per-round
    * cost: |corpus|·|selected| native dot products via a broadcast
    * (≤ k × dim) selected table — O(k²·n·dim) total, fine for the k ≪ n
    * regime MMR exists for. Relevance and norms are computed once into a
    * lazy checkpoint (k rounds re-scan the materialization, not the
    * lineage). Non-finite relevance rows (zero-norm/dirty vectors) are
    * dropped up front — Spark's ordering ranks NaN above every double,
    * so one dirty vector would otherwise win every round. Ties break on
    * vec_id; scores are raw doubles (callers round for display). */
  def mmrSelect(corpus: DataFrame, queryVec: Array[Double], k: Int,
                lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1], got $lambda")
    val spark = corpus.sparkSession
    val qlit = typedLit(queryVec.toSeq)
    val scored = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("vn", norm(col("v")))
      .withColumn("rel", cosOrNull(dot(col("v"), qlit), col("vn"), norm(qlit)))
      .filter(col("rel").isNotNull && !isnan(col("rel")))
      .localCheckpoint(false)
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Seq[Double], Double)]()
    var exhausted = false
    while (selected.size < k && !exhausted) {
      val pick =
        if (selected.isEmpty)
          scored
            .select(col("vec_id"), col("v"),
              (lit(lambda) * col("rel")).as("score"))
            .orderBy(col("score").desc, col("vec_id")).limit(1)
            .collect().headOption
        else {
          val selDf = spark.createDataFrame(
              selected.toSeq.map { case (id, v, _) => (id, v) })
            .toDF("sid", "sv")
            .withColumn("sn", norm(col("sv")))
          scored
            .filter(!col("vec_id").isin(selected.map(_._1).toSeq: _*))
            .crossJoin(broadcast(selDf))
            .withColumn("sim",
              cosOrNull(dot(col("v"), col("sv")), col("vn"), col("sn")))
            .groupBy("vec_id")
            .agg(first("v").as("v"), first("rel").as("rel"),
              max("sim").as("msim"))
            .select(col("vec_id"), col("v"),
              (lit(lambda) * col("rel") - lit(1 - lambda) * col("msim")).as("score"))
            .orderBy(col("score").desc, col("vec_id")).limit(1)
            .collect().headOption
        }
      pick match {
        case Some(r) =>
          selected += ((r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
        case None => exhausted = true
      }
    }
    spark.createDataFrame(selected.toSeq.zipWithIndex.map {
      case ((id, _, s), i) => (i + 1L, id, s)
    }).toDF("rank", "vec_id", "mmr_score")
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = 127 / max|x|, q_i = floor(x_i·scale + 0.5) (explicit
    * half-up floor — identical in every engine, unlike round-half-even
    * ties). 4× smaller vectors for ANN candidate stages at corpus scale;
    * the per-vector scale rides along for dequantization. Also emits the
    * max absolute dequantization error as a per-row audit column. Pure
    * projection — zero shuffle. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    emb.select(col("vec_id"), v.as("v"))
      .withColumn("scale", lit(127.0) / array_max(transform(col("v"), x => abs(x))))
      .select(col("vec_id"),
        round(col("scale"), 6).as("scale"),
        transform(col("v"), x => floor(x * col("scale") + 0.5).cast("int")).as("q"),
        round(array_max(zip_with(col("v"),
            transform(col("v"), x => floor(x * col("scale") + 0.5)),
            (x, qi) => abs(x - qi / col("scale")))), 6).as("max_abs_err"))
  }

  /** Per-group centroid outlier ranking (the SemDeDup/DataComp prune
    * signal: vectors far from their cluster centroid are likely
    * mislabeled/noisy and pruned first): dimension-wise mean per
    * `groupCol`, then each vector's cosine distance 1 − cos(v, centroid)
    * to its OWN group's centroid, top-`topK` per group (vec_id
    * tiebreak). The centroid table is (groups × dims)-bounded →
    * broadcast; the corpus pays one broadcast join and a per-group
    * ranking window — its vectors never shuffle (the per-group-constant
    * centroid norm is precomputed in the broadcast table, so the hot
    * path pays one O(dims) dot per row, not three). Dot products are the
    * native left-to-right [[dot]] (pinned equal to DuckDB's
    * list_dot_product), so scores are engine-identical up to the
    * centroid means' summation order (~1 ulp, far below rank margins).
    * A zero vector (or zero centroid) has no direction; its cosine is
    * undefined, so the distance pins to the maximum 2.0 — deliberately
    * first in the prune ranking, as an explicit number instead of the
    * NaN that 0/0 would rank first silently. */
  def centroidOutliers(emb: DataFrame, topK: Int = 5,
                       groupCol: String = "label"): DataFrame = {
    val e = col("embedding").cast("array<double>")
    val cent = emb.select(col(groupCol), posexplode(e).as(Seq("dim", "v")))
      .groupBy(col(groupCol), col("dim")).agg(avg("v").as("c"))
      .groupBy(groupCol)
      // sort_array + direct array-of-struct field extraction
      // (GetArrayStructFields): both codegen inside UnsafeProjection.
      // The previous array_sort(...)+transform(...) form used lambda
      // comparators/extractors that tripped a janino codegen bug
      // ("isNull_x is not an rvalue") → interpreter fallback per batch.
      .agg(sort_array(collect_list(struct(col("dim"), col("c"))))
        .getField("c").as("cvec"))
      .withColumn("cnorm", norm(col("cvec")))
    val w = Window.partitionBy(groupCol)
      .orderBy(col("dist").desc, col("vec_id").asc)
    emb.join(broadcast(cent), groupCol)
      .withColumn("ed", e)
      .withColumn("nprod", norm(col("ed")) * col("cnorm"))
      .withColumn("dist",
        when(col("nprod") === 0d, lit(2.0))
          .otherwise(lit(1.0) - dot(col("ed"), col("cvec")) / col("nprod")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("vec_id"), col(groupCol),
        round(col("dist"), 4).as("centroid_dist"), col("rnk"))
  }

  /** Cosine top-k over int8-quantized vectors ([[quantizeInt8]]): the
    * 4×-smaller-footprint ANN path. Per-vector scales cancel in cosine
    * (q ≈ scale·x), so ranking quantized vectors approximates ranking
    * the originals with no dequantization; dot products run on exact
    * small integers (cast to double for the native [[DotProduct]] loop —
    * every int8 value is exactly representable, so results are
    * bit-deterministic and oracle-mirrorable). Same broadcast shape as
    * [[cosineTopK]]. */
  def quantizedCosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = quantizeInt8(queries)
      .select(col("vec_id").as("q_id"), col("q").cast("array<double>").as("qe"))
      .withColumn("qn", norm(col("qe")))
    val c = quantizeInt8(corpus)
      .select(col("vec_id").as("c_id"), col("q").cast("array<double>").as("ce"))
      .withColumn("cn", norm(col("ce")))
    val sims = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(cosOrNull(dot(col("qe"), col("ce")), col("qn"), col("cn")), 4)
          .as("cos_q"))
      .filter(col("cos_q").isNotNull)
    val w = Window.partitionBy("q_id").orderBy(col("cos_q").desc, col("c_id"))
    sims.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "c_id", "cos_q")
  }

  /** Embedding-cosine near-dup pairs: all pairs with cosine ≥ `minCos`.
    * Exact within the given frame — quadratic, so callers bound the input
    * (dedup verification stage) or pre-bucket with [[annLsh]]-style
    * signatures at corpus scale; this is the confirm stage of that
    * pipeline, like exact Jaccard is for MinHash. */
  def cosineNearDupPairs(emb: DataFrame, minCos: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("vec_a"),
      col("embedding").cast("array<double>").as("va"))
      .withColumn("na", norm(col("va")))
    val b = emb.select(col("vec_id").as("vec_b"),
      col("embedding").cast("array<double>").as("vb"))
      .withColumn("nb", norm(col("vb")))
    a.join(b, col("vec_a") < col("vec_b"))
      // NULL (zero-norm side) fails the >= threshold and drops out
      .withColumn("cos_raw",
        cosOrNull(dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cos_raw") >= minCos)
      .select(col("vec_a"), col("vec_b"), round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** The composed corpus-scale near-dup path: sign-LSH bucket candidates →
    * exact cosine confirm, over the FULL table — no quadratic stage
    * anywhere. Candidate generation is a self-equi-join on (table,
    * signature) buckets that shuffles only 16-byte id pairs (vectors are
    * re-attached after the distinct); the confirm stage computes exact
    * cosine on candidates only, so the output is exactly the ≥ `minCos`
    * pair set whenever every qualifying pair shares at least one bucket.
    * Per-pair miss probability at the defaults is
    * (1 − p^planes)^tables with p = 1 − θ/π: ~1e-10 at cos = 0.998 (the
    * genuine-duplicate regime this targets — the fixture plants pairs
    * there), ~2e-5 at cos = 0.98, but rising to ~1.7% for pairs sitting
    * exactly AT a 0.9 threshold. When boundary-regime recall matters,
    * raise `tables` (miss decays geometrically in it — 28 tables pushes
    * the 0.9 boundary under 1e-4) or lower `planes`. The fixture check
    * is exact (SimilaritySpec asserts equality with the quadratic
    * [[cosineNearDupPairs]], and the q63 oracle re-derives the pair set
    * in SQL). Same scale shape as MinHash-LSH is for Jaccard
    * (`Dedup.minHashLshPairs`): bucket → candidate ids → confirm.
    *
    * `maxBucketSize` > 0 drops sign-LSH buckets shared by more than that
    * many vectors before the self-join — the cosine twin of the MinHash
    * band cap (`Dedup.capBands`): a bucket of d vectors emits d·(d−1)/2
    * candidates by itself, and identical vectors share EVERY bucket, so
    * a hot bucket (mass-duplicated embeddings, a degenerate all-zeros
    * region) is a guaranteed quadratic bomb. LOSSY and off by default;
    * the preferred defense for exact duplicates is the collapse in
    * [[semanticClustersCollapsed]] (cap first when duplication is
    * unknown, collapse when it is the known cause). The hot-bucket set
    * is small by construction → broadcast anti-join. */
  def lshCosineNearDupPairs(emb: DataFrame, minCos: Double,
                            planes: Int = 8, tables: Int = 12,
                            maxBucketSize: Int = 0): DataFrame = {
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val candIds = lshCosineCandidates(v, planes, tables, maxBucketSize)
    val va = v.select(col("vec_id").as("vec_a"), col("v").as("va"))
      .withColumn("na", norm(col("va")))
    val vb = v.select(col("vec_id").as("vec_b"), col("v").as("vb"))
      .withColumn("nb", norm(col("vb")))
    lshCosineConfirm(candIds, va, vb, minCos)
  }

  /** Candidate stage of [[lshCosineNearDupPairs]]: distinct (vec_a,
    * vec_b) pairs colliding on ≥1 kept sign-LSH bucket. Exposed for the
    * SimilaritySpec duplication-blowup measurement. `v` carries
    * (vec_id, v). */
  private[graft] def lshCosineCandidates(v: DataFrame, planes: Int,
                                         tables: Int,
                                         maxBucketSize: Int): DataFrame = {
    def sigs(c: Column) = graft.functions.VectorFunctions.lshSignatures(c, planes, tables)
    val b = Dedup.dropHotKeys(
      v.select(col("vec_id"), explode(sigs(col("v"))).as("bucket")),
      "bucket", maxBucketSize)
    b.as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
  }

  /** Exact-cosine confirm shared by the [[lshCosineNearDupPairs]] exit. */
  private def lshCosineConfirm(candIds: DataFrame, va: DataFrame,
                               vb: DataFrame, minCos: Double): DataFrame =
    candIds.join(va, Seq("vec_a")).join(vb, Seq("vec_b"))
      // NULL (zero-norm side) fails the >= threshold and drops out
      .withColumn("cos_raw",
        cosOrNull(dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cos_raw") >= minCos)
      .select(col("vec_a"), col("vec_b"), round(col("cos_raw"), 4).as("cos_sim"))

  /** Semantic-dedup clusters with an exact-duplicate collapse in front:
    * bit-identical embeddings are collapsed to one representative (min
    * vec_id per embedding value — grouping on the raw array, exact bit
    * equality, no float formatting involved), the LSH-bucketed pair
    * stage ([[lshCosineNearDupPairs]]) runs over REPRESENTATIVES only,
    * and members rejoin their rep through linear star edges before
    * connected components. This is the embeddings twin of
    * [[Dedup.nearDupClustersCollapsed]]: a vector duplicated d times
    * costs d² candidate pairs per LSH bucket uncollapsed (and identical
    * vectors share EVERY bucket, so the blow-up is certain, measured 50×
    * at 10× corpus) but only d star edges here.
    *
    * Semantics: identical vectors have cosine exactly 1 ≥ `minCos`, so
    * the output matches the uncollapsed pairs + components for any
    * non-degenerate corpus; the one deliberate difference is that
    * identical ZERO vectors (cosine undefined, dropped by the pair
    * stage) still cluster here — exact duplicates are near-duplicates by
    * definition. Output: (vec_id, cluster_id), cluster_id = smallest
    * member id.
    *
    * As the cluster-level entry point, the hot-bucket cap DEFAULTS ON
    * ([[Dedup.DefaultHotKeyCap]] — see [[Dedup.nearDupClusters]] for the
    * rationale); the collapse already defuses exact-duplicate bombs, the
    * cap additionally bounds near-identical (non-bit-equal) floods.
    * `maxBucketSize = 0` switches it off. */
  def semanticClustersCollapsed(emb: DataFrame, minCos: Double,
                                planes: Int = 8,
                                tables: Int = 12,
                                maxBucketSize: Int = Dedup.DefaultHotKeyCap): DataFrame = {
    // NULL embeddings would form ONE groupBy group below and so collapse
    // into a fake "exact duplicate" cluster via star edges, where the
    // uncollapsed pair path simply drops dirty rows — drop them here too
    // so collapsed == uncollapsed on every input, not just clean ones
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val reps = v.groupBy("v").agg(min("vec_id").as("rep"))
    val repVecs = v.join(reps.select(col("rep").as("vec_id")),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("v").as("embedding"))
    val repPairs = lshCosineNearDupPairs(repVecs, minCos, planes, tables,
        maxBucketSize = maxBucketSize)
      .select("vec_a", "vec_b")
    val star = v.join(reps, Seq("v"))
      .filter(col("vec_id") =!= col("rep"))
      .select(col("rep").as("vec_a"), col("vec_id").as("vec_b"))
    Dedup.connectedComponents(repPairs.union(star))
      .withColumnRenamed("node", "vec_id")
  }

  /** Block-partitioned k-nearest-neighbor graph: each vector's exact
    * top-`k` cosine neighbors WITHIN its block (`blockCol`). The join is a
    * plain equi-join on the block id — no cartesian stage — and the
    * ranking window partitions per vector, so work is Σ|block|² instead
    * of |corpus|²: this is the IVF-cell shape (at 100 TB the block id
    * comes from [[annIvf]]'s coarse quantizer or an LSH bucket; here the
    * fixture `label` plays that role). Ranking orders on the RAW cosine
    * (an IEEE-identical dot/sqrt/divide chain, left-to-right [[dot]]
    * pinned equal to DuckDB's list_dot_product) with vec_id tie-break, so
    * the graph is engine-deterministic; the emitted cos_sim is rounded
    * for display. kNN graphs feed semantic-dedup clustering
    * ([[lshCosineNearDupPairs]] + connected components) and
    * graph-based pruning signals ([[centroidOutliers]]). */
  def knnGraphBlocked(emb: DataFrame, k: Int, blockCol: String = "label"): DataFrame = {
    // Degenerate (zero/NaN-norm) vectors are excluded ONCE PER VECTOR
    // here, not per pair: a `raw IS NOT NULL` filter after the scoring
    // projection gets alias-inlined by predicate pushdown, re-running
    // the dim-length dot product on every pair row (the round-6 q90
    // 2× regression). Semantics are identical — a zero-norm vector
    // scores NULL against everything, so it emitted no rows either way.
    val e = Spread.cpu(emb).select(col("vec_id"), col(blockCol).as("block"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nn", norm(col("v")))
      .filter(col("nn") > 0)
    val a = e.select(col("vec_id").as("vec_id"), col("block"),
      col("v").as("va"), col("nn").as("na"))
    val b = e.select(col("vec_id").as("neighbor_id"), col("block"),
      col("v").as("vb"), col("nn").as("nb"))
    val w = Window.partitionBy("vec_id").orderBy(col("raw").desc, col("neighbor_id").asc)
    a.join(b, Seq("block"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      // cosOrNull stays as underflow paranoia (na*nb could round to 0
      // for denormal norms); a NULL would sort last under desc, never
      // entering the top-k — no per-pair filter needed
      .withColumn("raw", cosOrNull(dot(col("va"), col("vb")),
        col("na"), col("nb")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("block").as(blockCol), col("neighbor_id"),
        round(col("raw"), 4).as("cos_sim"), col("rnk"))
  }

  /** Approximate NN via sign-LSH buckets: candidates share a (table,
    * signature) bucket; exact cosine + top-k on candidates only. Output
    * shape matches [[cosineTopK]] (ranks may be sparse if < k candidates).
    * `planes` trades recall vs bucket size; `tables` boosts recall.
    * Signatures come from the native codegen'd
    * [[graft.functions.LshSignatures]] expression (same hash family as the
    * previous UDF — identical buckets, no boxing round-trip). */
  def annLsh(queries: DataFrame, corpus: DataFrame, k: Int,
             planes: Int = 6, tables: Int = 8): DataFrame =
    annLshImpl(queries, corpus, k, (_, e) =>
      graft.functions.VectorFunctions.lshSignatures(e, planes, tables))

  /** Engine-portable sibling of [[annLsh]]: the SAME candidate machinery
    * (explode signatures → bucket equi-join → id-pair distinct → vector
    * re-attach → exact-cosine confirm → per-query top-k) fed by
    * DETERMINISTIC md5-derived bucket ids — per table `t`, bucket =
    * `md5_prefix60(vec_id || ':' || t) % buckets + t·10⁶` (the table
    * offset keeps cross-table buckets disjoint, exactly as
    * [[graft.functions.LshSignatures]] encodes the table index). A DuckDB
    * oracle re-derives the buckets from its own md5/conv builtins and the
    * candidate set quadratically, so the join + confirm + ranking stages
    * are value-pinned cross-engine (the q186/q187 trick for the vector
    * family); [[annLsh]]'s native random-hyperplane signatures remain the
    * recall/throughput path. */
  def annLshMd5(queries: DataFrame, corpus: DataFrame, k: Int,
                buckets: Int = 32, tables: Int = 4): DataFrame =
    annLshImpl(queries, corpus, k, (id, _) => array((0 until tables).map { t =>
      graft.functions.Md5Functions.md5Prefix60(
        concat(id.cast("string"), lit(":"), lit(t.toString))) % buckets +
        lit(t.toLong * 1000000L)
    }: _*))

  private def annLshImpl(queries: DataFrame, corpus: DataFrame, k: Int,
                         sigs: (Column, Column) => Column): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("qe"))
      .withColumn("qn", norm(col("qe")))
    val c = corpus.select(col("vec_id").as("c_id"), col("label"),
        col("embedding").cast("array<double>").as("ce"))
      .withColumn("cn", norm(col("ce")))
    // candidate id pairs first (the distinct shuffles 16 bytes per pair,
    // not the embedding arrays); vectors re-attached after dedup
    val qb = q.select(col("q_id"),
      explode(sigs(col("q_id"), col("qe"))).as("bucket"))
    val cb = c.select(col("c_id"),
      explode(sigs(col("c_id"), col("ce"))).as("bucket"))
    val candIds = cb.join(broadcast(qb), Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id")
      .distinct()
    val sims = candIds
      .join(broadcast(q), Seq("q_id"))
      .join(c, Seq("c_id"))
      .select(col("q_id"), col("c_id"), col("label"),
        round(cosOrNull(dot(col("qe"), col("ce")), col("qn"), col("cn")), 4)
          .as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("c_id"))
    sims.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "c_id", "label", "cos_sim")
  }
}
