package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorOps

/** Similarity search over embedding columns (`Array[Float]`) — SURVEY §7.3.
  *
  * Everything is built from codegen'd higher-order functions (`zip_with` +
  * `aggregate`), no UDFs: the fold is sequential left-to-right in index
  * order, which makes the doubles bit-reproducible across engines (the
  * DuckDB oracle uses `list_reduce` with the same order).
  *
  * 100 TB path: brute force is a broadcast of the (small) query set against
  * a partitioned corpus — linear scan, embarrassingly parallel, no shuffle
  * on the corpus side; the ranked top-k per query is a partial top-k inside
  * each partition via window + filter (Catalyst runs rank-filter windows
  * with a partial sort, not a global one). The LSH variant buckets the
  * corpus once (deterministic hyperplanes), so each query probes ~1/2^p of
  * the data; at petabyte scale you persist the bucketed table and the probe
  * is a bucket-pruned join.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Similarity")

  /** Sequential-fold dot product in double precision — custom codegen'd
    * Catalyst expression (same IEEE left-fold as the composable
    * aggregate/zip_with route, ~50x faster on O(n^2) scans). */
  def dot(a: Column, b: Column): Column = VectorOps.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query vector (brute-force baseline).
    * Ranking key is the cosine rounded to 6 dp with the id as tiebreak, so
    * the ordering is stable under float noise. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // norms precomputed per row (identical fold -> identical doubles), so
    // each pair costs one fused dot-product loop instead of three
    val joined = queries.select(col("vec_id").as("q"), col("embedding").as("qe"),
        norm(col("embedding")).as("qn"))
      .crossJoin(corpus.select(col("vec_id").as("v"), col("embedding").as("ve"),
        norm(col("embedding")).as("vn")))
      .where(col("q") =!= col("v"))
      .withColumn("c", dot(col("qe"), col("ve")) / (col("qn") * col("vn")))
    val w = Window.partitionBy(col("q"))
      .orderBy(round(col("c"), 6).desc, col("v"))
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q"), col("rank"), col("v"), round(col("c"), 4).as("cos_sim"))
  }

  /** Deterministic hyperplane weights: w(p,d) = nibble(md5("p|d")) − 7.5,
    * p 0-based plane, d 1-based dimension. Reproducible anywhere md5 exists. */
  def planeWeights(plane: Int, dims: Int): Array[Double] = {
    val md = MessageDigest.getInstance("MD5")
    (1 to dims).map { d =>
      val hex = md.digest(s"$plane|$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 1), 16) - 7.5
    }.toArray
  }

  /** Deterministic RANDOM PROJECTION to `k` dimensions: output dim p is
    * the dot product with the same md5-nibble weight family as the LSH
    * hyperplanes ([[planeWeights]]) — the standard cheap dimensionality
    * reduction ahead of clustering/ANN (Johnson–Lindenstrauss: distances
    * survive for k = O(log n / ε²); Achlioptas showed simple discrete
    * weight distributions suffice, which is what the nibble weights are).
    * One fused codegen'd dot per output dim, no shuffle — and exactly
    * recomputable by any engine from the md5 definition, so projections
    * are hash-checkable cross-engine (the t35 oracle recomputes them). */
  def randomProjection(v: Column, k: Int, dims: Int): Column =
    array((0 until k).map { p =>
      dot(v.cast("array<double>"), typedLit(planeWeights(p, dims)))
    }: _*)

  /** Deterministic synthetic embedding for a document id: dimension j is
    * `nibble(md5("v|id|j")) − 7.5` — a reproducible stand-in for a model
    * embedding that any engine recomputes exactly (the "v|" namespace
    * keeps doc vectors independent of [[planeWeights]]'s hyperplanes).
    * Used by the streaming vector-index fixture, where the pipeline under
    * test is the index maintenance, not the encoder. */
  def syntheticVector(id: Column, dims: Int): Column =
    array((1 to dims).map { j =>
      conv(substring(md5(concat(lit("v|"), id.cast("string"), lit(s"|$j"))), 1, 1),
        16, 10).cast("double") - 7.5
    }: _*)

  /** Sign-concatenated LSH bucket signature over `planes` hyperplanes. */
  def lshSignature(v: Column, planes: Int, dims: Int): Column = {
    val bits = (0 until planes).map { p =>
      val w = typedLit(planeWeights(p, dims))
      when(dot(v, w) >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** IVF-style approximate search: a coarse quantizer (k-means over a
    * deterministic seed) partitions the corpus into cells; each query probes
    * only the `nProbe` nearest cells. Classic FAISS-IVF shape on Spark: the
    * assignment is one narrow pass, the probe a cell-pruned join. Train on
    * a sample at 100 TB — centroids are tiny and broadcast everywhere.
    * Not oracle-checkable (iterative float training), covered by recall
    * tests against brute force. */
  def ivfIndex(corpus: DataFrame, nCells: Int, seed: Long = 42L): (DataFrame, Array[Array[Double]]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val withVec = corpus.withColumn("features",
      array_to_vector(col("embedding").cast("array<double>")))
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(10)
      .fit(withVec)
    val assigned = model.transform(withVec)
      .select(col("vec_id").as("v"), col("embedding").as("ve"),
        norm(col("embedding")).as("vn"), col("prediction").as("cell"))
    (assigned, model.clusterCenters.map(_.toArray))
  }

  def ivfTopK(indexed: DataFrame, centers: Array[Array[Double]],
      queries: DataFrame, k: Int, nProbe: Int = 2): DataFrame = {
    val centerCols = centers.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cell"), dot(col("qe"), typedLit(c)).as("sim"))
    }
    // per query: the nProbe cells whose centroid dot-product is highest
    val q = queries.select(col("vec_id").as("q"), col("embedding").as("qe"),
        norm(col("embedding")).as("qn"))
      .withColumn("cells",
        slice(reverse(array_sort(array(centerCols.toIndexedSeq: _*),
          (a, b) => when(a("sim") < b("sim"), -1).when(a("sim") > b("sim"), 1).otherwise(0))),
          1, nProbe))
      .select(col("q"), col("qe"), col("qn"),
        explode(col("cells.cell")).as("cell"))
    val joined = q.join(indexed, Seq("cell"))
      .where(col("q") =!= col("v"))
      .withColumn("c", dot(col("qe"), col("ve")) / (col("qn") * col("vn")))
    val w = Window.partitionBy(col("q"))
      .orderBy(round(col("c"), 6).desc, col("v"))
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q"), col("rank"), col("v"), round(col("c"), 4).as("cos_sim"))
  }

  /** Symmetric int8 scalar quantization (SQ8): q_i = round(v_i / scale),
    * scale = max|v| / 127 per vector. The FAISS-SQ shape: 4x less memory
    * and scan bandwidth than float32 (the binding cost of a 100 TB
    * brute-force scan), and the quantized cosine needs only INTEGER sums
    * (the per-vector scales cancel), so scoring is order-independent
    * exact integer math — bit-reproducible on any engine, any partition
    * order. Rounding via round() (half away from zero) matches DuckDB. */
  def sq8Quantize(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val maxAbs = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    val scale = greatest(maxAbs, lit(1e-12)) / lit(127.0)
    df.select(col(idCol), col(vecCol),
        scale.as("sq8_scale"),
        transform(col(vecCol),
          x => round(x.cast("double") / scale).cast("int")).as("qvec"))
  }

  /** Approximate top-k over SQ8 codes: cos(qa, qb) with integer dot/norm
    * sums (computed in doubles — |q| ≤ 127 so every sum is exact well
    * under 2^53). Same broadcast-queries / linear-corpus-scan shape as
    * [[bruteForceTopK]], reading 1/4 the bytes. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def d(a: Column, b: Column): Column = dot(a.cast("array<double>"), b.cast("array<double>"))
    val c = sq8Quantize(corpus).select(col("vec_id").as("v"), col("qvec").as("vq"),
      sqrt(d(col("qvec"), col("qvec"))).as("vn"))
    val q = sq8Quantize(queries).select(col("vec_id").as("q"), col("qvec").as("qq"),
      sqrt(d(col("qvec"), col("qvec"))).as("qn"))
    val joined = q.crossJoin(c).where(col("q") =!= col("v"))
      .withColumn("c", d(col("qq"), col("vq")) / (col("qn") * col("vn")))
    val w = Window.partitionBy(col("q"))
      .orderBy(round(col("c"), 6).desc, col("v"))
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q"), col("rank"), col("v"), round(col("c"), 4).as("cos_q"))
  }

  /** Fit PRODUCT-QUANTIZATION codebooks: the vector splits into `m`
    * contiguous subspaces of `dims/m` dims, each fit with the
    * deterministic integer k-means ([[KMeansQ]], so codebooks — and
    * therefore codes and ADC scores — are bit-identical on any engine).
    * Returns the per-subspace center tables. */
  def pqFit(corpus: DataFrame, m: Int, codebookK: Int, iters: Int,
      dims: Int, vecCol: String = "embedding", idCol: String = "vec_id",
      scale: Long = 1000000L, fitSampleRate: Double = 1.0)
      : Seq[Array[Array[Long]]] = {
    // fit on a deterministic md5 sample: codebook quality needs a
    // representative subset, not the corpus — at 100 TB the fit input is
    // rate-bounded while encode/search still cover every vector. The
    // sample is engine-recomputable (md5 threshold), so oracles replay
    // the sampled fit exactly.
    val fitInput =
      if (fitSampleRate >= 1.0) corpus
      else Sampling.deterministicSample(corpus, idCol, fitSampleRate)
    KMeansQ.fitMulti(fitInput, vecCol, m, codebookK, iters, dims, scale)
  }

  /** Encode each vector as `m` codebook indices (one per subspace) —
    * PQ compression: dims floats → m small ints (16× here at 64→4).
    * One narrow projection; centers are plan literals. */
  def pqEncode(df: DataFrame, codebooks: Seq[Array[Array[Long]]],
      dims: Int, vecCol: String = "embedding", idCol: String = "vec_id",
      scale: Long = 1000000L): DataFrame = {
    val m = codebooks.length
    val subDims = dims / m
    codebooks.zipWithIndex.foldLeft(
      df.select(col(idCol), col(vecCol))) { case (acc, (cb, i)) =>
      acc.withColumn(s"_q$i",
          KMeansQ.quantize(slice(col(vecCol), i * subDims + 1, subDims),
            subDims, scale))
        .withColumn(s"_sc$i", KMeansQ.scoresExpr(col(s"_q$i"), cb))
        .withColumn(s"code_$i", KMeansQ.argminExpr(col(s"_sc$i"), cb.length))
        .drop(s"_q$i", s"_sc$i")
    }.drop(vecCol)
  }

  /** PQ-ADC approximate top-k (the FAISS PQ shape minus IVF): the corpus
    * is scanned as CODES ONLY (m ints per vector — 64× fewer bytes than
    * the float vectors at 64 dims / m=4), each query carries its
    * per-subspace exact-integer distance TABLE (k entries per subspace,
    * computed once per query), and scoring is m array lookups + adds per
    * (query, vector). At 100 TB: queries + tables broadcast, the code
    * scan is the only full pass, and nothing wider than `m` ints ever
    * shuffles into the per-query top-k window. The ADC distance is exact
    * integer arithmetic end to end — hash-checkable, not just
    * approximately right. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, codebookK: Int = 8, iters: Int = 1, dims: Int = 64,
      scale: Long = 1000000L, fitSampleRate: Double = 1.0): DataFrame = {
    val subDims = dims / m
    val codebooks = pqFit(corpus, m, codebookK, iters, dims, scale = scale,
      fitSampleRate = fitSampleRate)
    val codes = pqEncode(corpus, codebooks, dims, scale = scale)
      .withColumnRenamed("vec_id", "v")
    // query-side distance tables: exact |q_sub - c|^2 per center — the
    // scores expr plus the |q_sub|^2 term it drops
    val qdt = codebooks.zipWithIndex.foldLeft(
      queries.select(col("vec_id").as("q"), col("embedding"))) {
      case (acc, (cb, i)) =>
        val qcol = KMeansQ.quantize(
          slice(col("embedding"), i * subDims + 1, subDims), subDims, scale)
        val qNormSq = (0 until subDims).map(d =>
          col(s"_qq$i").getItem(d) * col(s"_qq$i").getItem(d)).reduce(_ + _)
        acc.withColumn(s"_qq$i", qcol)
          .withColumn(s"dt_$i",
            transform(KMeansQ.scoresExpr(col(s"_qq$i"), cb), s => s + qNormSq))
          .drop(s"_qq$i")
    }.drop("embedding")
    val adc = (0 until m).map(i =>
      element_at(col(s"dt_$i"), col(s"code_$i").cast("int") + 1)).reduce(_ + _)
    val joined = broadcast(qdt).crossJoin(codes)
      .where(col("q") =!= col("v"))
      .withColumn("adc", adc)
    val w = Window.partitionBy(col("q")).orderBy(col("adc"), col("v"))
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q"), col("rank"), col("v"), col("adc"))
  }

  /** IVF-FLAT with the DETERMINISTIC integer k-means as coarse quantizer
    * (the oracle-replayable sibling of [[ivfTopK]], whose float centroids
    * are engine-local): the corpus partitions into `kCells` cells, each
    * query probes its `nProbe` nearest cells (exact integer center
    * distances, smallest-id ties) and scores ONLY those cells' vectors
    * with the exact cosine. At scale: cells are the persisted layout
    * (cluster-pruned scan), the probe set broadcasts, and each query
    * touches ~nProbe/kCells of the corpus. */
  def ivfqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      kCells: Int = 4, iters: Int = 2, nProbe: Int = 2, dims: Int = 64,
      scale: Long = 1000000L, fitSampleRate: Double = 1.0): DataFrame =
    // the unfiltered search IS the filtered search with a vacuous
    // predicate (Catalyst folds the `true` filter away) — one pipeline to
    // maintain, so probe/tie-break tuning can never silently diverge
    ivfqTopKFiltered(corpus, queries, k, lit(true), Nil,
      kCells, iters, nProbe, dims, scale, fitSampleRate)

  /** Two-stage PQ search — ADC shortlist, then EXACT re-rank (the FAISS
    * refine/`RefineFlat` recipe): [[pqTopK]] retrieves `kCand` candidates
    * per query from the compressed code scan, and only those
    * queries×kCand rows pay a full-vector distance — computed in the
    * QUANTIZED integer domain (`Σ(a_d−b_d)²` as BIGINT via
    * [[org.apache.spark.sql.graft.L2SqLong]]), so the refined ranking is
    * hash-replayable, not approximately right.
    *
    * 100 TB shape: stage 1 is the only corpus-wide pass (codes, m ints
    * per vector); stage 2 broadcasts the tiny shortlist against the
    * corpus scan to fetch raw vectors for exactly queries×kCand rows —
    * the classic retrieve-then-rerank cost split. Recall improves from
    * ADC's quantization-error floor toward brute force as kCand/k grows,
    * at kCand/corpus of the exact-distance cost. */
  def pqRefineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      kCand: Int, m: Int = 4, codebookK: Int = 8, iters: Int = 1,
      dims: Int = 64, scale: Long = 1000000L,
      fitSampleRate: Double = 1.0): DataFrame = {
    require(kCand >= k, "shortlist must be at least the final k")
    val shortlist = pqTopK(corpus, queries, kCand, m, codebookK, iters,
      dims, scale, fitSampleRate).select(col("q"), col("v"))
    val cq = corpus.select(col("vec_id").as("v"),
      KMeansQ.quantize(col("embedding"), dims, scale).as("_vq"))
    val qq = queries.select(col("vec_id").as("q"),
      KMeansQ.quantize(col("embedding"), dims, scale).as("_qq"))
    val w = Window.partitionBy(col("q")).orderBy(col("d2"), col("v"))
    cq.join(broadcast(shortlist), "v")
      .join(broadcast(qq), "q")
      .withColumn("d2",
        org.apache.spark.sql.graft.QuantOps.l2sq(col("_qq"), col("_vq")))
      // a NULL d2 (malformed vector or overflow wrap) must never rank —
      // ascending NULLS FIRST would crown it the nearest neighbor
      .where(col("d2").isNotNull)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q"), col("rank"), col("v"), col("d2"))
  }

  /** IVFPQ — the composed index shape a 100 TB vector estate actually
    * runs (the FAISS `IVFx,PQy` recipe): a coarse integer k-means
    * partitions the corpus into `kCells` cells, each vector stores only
    * its cell id plus `m` PQ codes fit on the RESIDUAL (vector − its cell
    * center — residuals are tighter than raw vectors, so the same
    * codebook budget quantizes finer), and a query (a) probes its
    * `nProbe` nearest cells, (b) ADC-scans ONLY those cells' codes with
    * per-(query, cell) residual distance tables, (c) exact-refines the
    * kCand shortlist in the quantized integer domain ([[pqRefineTopK]]'s
    * stage 2). Everything is exact integer arithmetic on deterministic
    * fits, so the whole composition hash-replays relationally.
    *
    * 100 TB shape: the corpus-wide pass is the CODE scan of the probed
    * cells only (~nProbe/kCells of m-int rows — at real settings, <1% of
    * the corpus in bytes); probes + distance tables broadcast; the
    * refine touches queries × kCand full vectors. Cells are the persisted
    * layout (partition by `cell`), so the probe is partition pruning, not
    * a filter.
    *
    * Returns (q, rank, v, d2) — d2 the exact quantized squared distance. */
  def ivfpqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      kCand: Int, kCells: Int = 4, coarseIters: Int = 2, nProbe: Int = 2,
      m: Int = 4, codebookK: Int = 8, pqIters: Int = 1, dims: Int = 64,
      scale: Long = 1000000L): DataFrame = {
    val (model, codes) = ivfpqFit(corpus, kCells, coarseIters, m,
      codebookK, pqIters, dims, scale)
    ivfpqSearch(codes, corpus, queries, model, k, kCand, nProbe,
      pruneCells = false)
  }

  /** The fitted IVFPQ index artifacts: `kCells` coarse centers and `m`
    * residual codebooks, all quantized longs — small enough to live as
    * plan literals on the query side. */
  final case class IvfPqModel(coarse: Seq[Seq[Long]],
      codebooks: Seq[Seq[Seq[Long]]], dims: Int, scale: Long) {
    def kCells: Int = coarse.length
    def m: Int = codebooks.length
  }

  /** IVFPQ fit + assign: the build half. Returns the model plus the codes
    * frame — (v, cell, code_0..code_{m−1}). The coarse assignment is
    * built ONCE and shared: the codebook fit reads it, and the returned
    * codes frame extends the same plan (no second assignment subtree),
    * while build-encoding ≡ append-encoding still holds by construction
    * because [[ivfpqEncode]] composes the IDENTICAL
    * [[ivfpqCoarseAssign]] + [[ivfpqCodeResiduals]] pair. */
  private[graft] def ivfpqFit(corpus: DataFrame, kCells: Int,
      coarseIters: Int, m: Int, codebookK: Int, pqIters: Int,
      dims: Int, scale: Long): (IvfPqModel, DataFrame) = {
    val subDims = dims / m
    require(subDims * m == dims, s"dims $dims not divisible by m $m")
    // coarse quantizer: one deterministic integer k-means over the corpus
    val coarse = KMeansQ.fitMulti(
      corpus, "embedding", 1, kCells, coarseIters, dims, scale).head
    val assigned = ivfpqCoarseAssign(corpus, coarse.map(_.toSeq).toSeq,
      dims, scale)
    val codebooks = KMeansQ.fitMultiQuantized(
      assigned.select(col("v").as("vec_id"), col("_res")), "_res",
      m, codebookK, pqIters, dims, scale)
    val model = IvfPqModel(coarse.map(_.toSeq).toSeq,
      codebooks.map(_.map(_.toSeq).toSeq).toSeq, dims, scale)
    (model, ivfpqCodeResiduals(assigned, model))
  }

  /** The shared coarse-assignment prefix of every IVFPQ encode:
    * (v, cell, _res) — nearest cell by exact integer center distance,
    * residual against that center. */
  private def ivfpqCoarseAssign(df: DataFrame, coarseSeq: Seq[Seq[Long]],
      dims: Int, scale: Long): DataFrame = {
    val qv = org.apache.spark.sql.graft.QuantOps
    val coarse = coarseSeq.map(_.toArray).toArray
    val centersLit = array(coarse.map(c => array(c.map(lit(_)): _*)): _*)
    df.select(col("vec_id").as("v"),
        qv.quantize(col("embedding"), dims, scale).as("_qv"))
      .withColumn("_cs", KMeansQ.scoresExpr(col("_qv"), coarse))
      .withColumn("cell", KMeansQ.argminExpr(col("_cs"), coarse.length))
      .withColumn("_res", zip_with(col("_qv"),
        element_at(centersLit, col("cell") + 1), (a, b) => a - b))
      .select(col("v"), col("cell"), col("_res"))
  }

  /** The shared subspace-coding suffix: code each residual subspace
    * against the frozen codebooks. */
  private def ivfpqCodeResiduals(assigned: DataFrame,
      model: IvfPqModel): DataFrame = {
    val subDims = model.dims / model.m
    model.codebooks.map(_.map(_.toArray).toArray).zipWithIndex
      .foldLeft(assigned) { case (acc, (cb, i)) =>
        acc.withColumn(s"_rs$i", slice(col("_res"), i * subDims + 1, subDims))
          .withColumn(s"_sc$i", KMeansQ.scoresExpr(col(s"_rs$i"), cb))
          .withColumn(s"code_$i", KMeansQ.argminExpr(col(s"_sc$i"), cb.length))
          .drop(s"_rs$i", s"_sc$i")
      }.drop("_res")
  }

  /** Encode vectors against a FROZEN model — the assignment half of
    * [[ivfpqFit]] with no fitting: coarse-assign each vector to its
    * nearest existing cell, take the residual, code each subspace
    * against the frozen codebooks. One narrow pass; the shared encode
    * for the initial build and every incremental append. */
  private[graft] def ivfpqEncode(df: DataFrame,
      model: IvfPqModel): DataFrame =
    ivfpqCodeResiduals(
      ivfpqCoarseAssign(df, model.coarse, model.dims, model.scale), model)

  /** IVFPQ search half over a codes frame (freshly fit, or reloaded from
    * the persisted layout): probe → ADC over probed cells → exact refine.
    * With `pruneCells`, the probed cell set is resolved up front (one
    * tiny query-side job) and applied as a STATIC filter, so a
    * cell-partitioned codes table prunes at the file level — the probe IS
    * partition pruning, no non-probed byte is read (PlanSpec pins
    * `PartitionFilters` on the persisted path). */
  private[graft] def ivfpqSearch(codes0: DataFrame, corpus: DataFrame,
      queries: DataFrame, model: IvfPqModel, k: Int, kCand: Int,
      nProbe: Int, pruneCells: Boolean): DataFrame = {
    require(kCand >= k && k >= 1, "need kCand >= k >= 1")
    require(nProbe >= 1 && nProbe <= model.kCells,
      "need 1 <= nProbe <= kCells")
    val m = model.m
    val subDims = model.dims / m
    val qv = org.apache.spark.sql.graft.QuantOps
    val coarse = model.coarse.map(_.toArray).toArray
    val cbArrs = model.codebooks.map(_.map(_.toArray).toArray)
    val centersLit = array(coarse.map(c => array(c.map(lit(_)): _*)): _*)
    def residual(qvec: Column, cell: Column): Column =
      zip_with(qvec, element_at(centersLit, cell + 1), (a, b) => a - b)

    // query side: nProbe nearest cells by exact integer center distance,
    // then a per-(query, probed-cell) RESIDUAL distance table per
    // subspace — |qres_sub − cb_c|² exactly (scores drop the shared
    // |qres_sub|² term; adding it back makes the ADC the true squared
    // distance, so shortlists are comparable across cells)
    val qq = queries.select(col("vec_id").as("q"),
      qv.quantize(col("embedding"), model.dims, model.scale).as("_qq"))
    val pw = Window.partitionBy(col("q")).orderBy(col("score"), col("cl"))
    val probes = qq
      .withColumn("_cs", KMeansQ.scoresExpr(col("_qq"), coarse))
      .select(col("q"), col("_qq"),
        posexplode(col("_cs")).as(Seq("cl", "score")))
      .withColumn("rn", row_number().over(pw))
      .where(col("rn") <= nProbe)
      .withColumn("_qres", residual(col("_qq"), col("cl")))
    val qdt = (0 until m).foldLeft(probes) { case (acc, i) =>
      val cb = cbArrs(i)
      acc.withColumn(s"_qr$i", slice(col("_qres"), i * subDims + 1, subDims))
        .withColumn(s"_qn$i",
          aggregate(col(s"_qr$i"), lit(0L), (a, x) => a + x * x))
        .withColumn(s"dt_$i",
          transform(KMeansQ.scoresExpr(col(s"_qr$i"), cb),
            s => s + col(s"_qn$i")))
        .drop(s"_qr$i", s"_qn$i")
    }.select(col("q") +: col("cl") +: (0 until m).map(i => col(s"dt_$i")): _*)

    // probe-limited ADC scan: the equi-join on (cell = cl) IS the cell
    // pruning — codes outside every probed cell never match (PlanSpec
    // pins the broadcast-hash-join shape); on the persisted layout the
    // probed set additionally becomes a partition filter on the scan
    val codes =
      if (!pruneCells) codes0
      else {
        val cells = probes.select(col("cl")).distinct()
          .collect().map(_.getInt(0).asInstanceOf[Any]).toSeq
        codes0.where(col("cell").isin(cells: _*))
      }
    val adc = (0 until m).map(i =>
      element_at(col(s"dt_$i"), col(s"code_$i").cast("int") + 1))
      .reduce(_ + _)
    val ws = Window.partitionBy(col("q")).orderBy(col("adc"), col("v"))
    val shortlist = codes
      .join(broadcast(qdt), col("cell") === col("cl") && col("q") =!= col("v"))
      .withColumn("adc", adc)
      .where(col("adc").isNotNull)
      .withColumn("rank", row_number().over(ws))
      .where(col("rank") <= kCand)
      .select(col("q"), col("v"))

    // exact integer refine over the shortlist — pqRefineTopK's stage 2.
    // MEASURED NEGATIVE (r18): folding qq into the shortlist's broadcast
    // subtree (one hash relation carrying (q, v, _qq)) looked like one
    // Exchange fewer, but serialized the two tiny broadcast builds —
    // nested inside one subtree they run sequentially where the planner
    // builds the two independent relations in parallel; the fold cost
    // +0.2-0.9 s across the ANN family. Keep the two parallel broadcasts.
    val cq = corpus.select(col("vec_id").as("v"),
      qv.quantize(col("embedding"), model.dims, model.scale).as("_qv"))
    val w = Window.partitionBy(col("q")).orderBy(col("d2"), col("v"))
    cq.join(broadcast(shortlist), Seq("v"))
      .join(broadcast(qq), Seq("q"))
      .withColumn("d2", qv.l2sq(col("_qq"), col("_qv")))
      .where(col("d2").isNotNull)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q"), col("rank"), col("v"), col("d2"))
  }

  /** Build the PERSISTED IVFPQ layout (proving the "cells are the
    * persisted layout" claim): the codes table lands as parquet
    * PARTITIONED BY cell — so a probe is partition pruning, zero bytes of
    * non-probed cells read — alongside the model artifacts (coarse
    * centers, residual codebooks, dims/scale meta) as tiny parquet
    * tables. Build once, query many: [[ivfpqTopKIndexed]] reloads
    * everything and never refits. */
  def ivfpqBuild(corpus: DataFrame, path: String, kCells: Int = 4,
      coarseIters: Int = 2, m: Int = 4, codebookK: Int = 8,
      pqIters: Int = 1, dims: Int = 64, scale: Long = 1000000L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (model, codes) = ivfpqFit(corpus, kCells, coarseIters, m,
      codebookK, pqIters, dims, scale)
    // the four layout writes land on DISJOINT paths with no ordering
    // between them — overlap them (guide §2.6): sequentially the build
    // paid four tiny-job walls; a reader only consults the layout after
    // build returns, so concurrent staging changes nothing observable
    runConcurrently(spark, Seq(
      () => codes.withColumn("cell", col("cell").cast("int"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes"),
      () => model.coarse.zipWithIndex
        .map { case (c, i) => (i, c) }.toDF("cell", "center")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse"),
      () => model.codebooks.zipWithIndex.flatMap { case (cb, s) =>
          cb.zipWithIndex.map { case (c, code) => (s, code, c) }
        }.toDF("sub", "code", "center")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks"),
      () => Seq((dims, scale)).toDF("dims", "scale")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")))
  }

  /** Run independent Spark actions concurrently (guide §2.6 — overlap
    * independent jobs; actions are only sequential because driver code
    * calls them sequentially). Each thunk gets the caller's session set
    * active on its pool thread (conf/FS helpers read it thread-locally).
    * Returns results in input order (Nil for no thunks); rethrows the
    * first failure in input order as the thunk threw it, not wrapped in
    * the pool's `ExecutionException`. */
  private[graft] def runConcurrently[T](spark: org.apache.spark.sql.SparkSession,
      thunks: Seq[() => T]): Seq[T] = if (thunks.isEmpty) Nil else {
    import scala.jdk.CollectionConverters._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try pool.invokeAll(thunks.map(t =>
        new java.util.concurrent.Callable[T] {
          override def call(): T = {
            org.apache.spark.sql.SparkSession.setActiveSession(spark)
            t()
          }
        }).asJava).asScala.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }.toSeq
    finally pool.shutdown()
  }

  /** Reload the persisted model artifacts — three tiny independent
    * read+collect jobs, overlapped (guide §2.6). */
  def ivfpqLoad(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqModel = {
    val parts = runConcurrently[Array[org.apache.spark.sql.Row]](spark, Seq(
      () => spark.read.parquet(s"$path/meta").collect(),
      () => spark.read.parquet(s"$path/coarse").collect(),
      () => spark.read.parquet(s"$path/codebooks").collect()))
    val meta = parts(0).head
    val coarse = parts(1)
      .map(r => r.getInt(0) -> r.getSeq[Long](1)).sortBy(_._1).map(_._2).toSeq
    val cbs = parts(2)
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toSeq).toSeq)
    IvfPqModel(coarse, cbs, meta.getInt(0), meta.getLong(1))
  }

  /** INCREMENTAL APPEND to a persisted IVFPQ layout — the streaming
    * lane's index-maintenance shape (FAISS's `add` vs `train`
    * distinction): the model is FROZEN — never refit; [[ivfpqLoad]]'s
    * artifacts are the contract — so new vectors coarse-assign to the
    * EXISTING cells and their codes append to the cell-partitioned
    * codes table. Per micro-batch this costs one narrow encode pass
    * plus a partitioned append touching only the cells the batch lands
    * in; queries keep file-level partition pruning over old and new
    * codes alike. Because [[ivfpqFit]] encodes through the same
    * [[ivfpqEncode]], build-then-append over a split corpus yields the
    * IDENTICAL codes table to a one-shot build with the same frozen
    * model (s43 hash-proves it). A drifted corpus eventually wants a
    * rebuild — the recall/freshness trade every frozen-quantizer ANN
    * index makes. */
  def ivfpqAppend(newVectors: DataFrame, path: String,
      /** The layout's model, when the caller already holds it. The model
        * is FROZEN by this lifecycle's contract, so a maintenance lane
        * loads it once and reuses it across every batch instead of
        * paying [[ivfpqLoad]]'s three parquet-read+collect jobs per
        * append (measured ~6 driver-side jobs per micro-batch on e46).
        * Callers must pass the model loaded from THIS `path`. */
      model: Option[IvfPqModel] = None): Unit = {
    val spark = newVectors.sparkSession
    val m = model.getOrElse(ivfpqLoad(spark, path))
    ivfpqEncode(newVectors, m)
      .withColumn("cell", col("cell").cast("int"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/codes")
  }

  /** INDEX-FILE MAINTENANCE for the persisted layout — the third verb
    * of the index lifecycle (build → append → COMPACT; FAISS merges
    * inverted lists the same way): every [[ivfpqAppend]] lands one
    * parquet file per touched cell, so an always-on maintenance lane
    * accrues files linearly with batch count while per-file bytes
    * shrink — probe cost at query time becomes file-COUNT-bound
    * (footers, open/seek) instead of byte-bound. Compaction rewrites
    * the codes table so each cell partition holds ONE file again; the
    * model artifacts are untouched (nothing refits) and the codes SET
    * is identical, so every query result is unchanged (s44 hash-proves
    * it against s43's oracle) and the probe's file-level partition
    * pruning survives (PlanSpec pins both).
    *
    * Swap discipline: the rewrite lands in a staging dir (with its
    * `_SUCCESS` marker), the old codes dir moves aside, staging renames
    * in, the old dir deletes. A crash at any point leaves at least one
    * COMPLETE copy on disk, and the RECOVERY pass below — which runs
    * before any cleanup — republishes it: staging with `_SUCCESS` wins
    * (the rewrite had finished; this completes the interrupted swap),
    * else the moved-aside original restores. Only after `$path/codes`
    * provably exists do stale staging/trash dirs clear.
    *
    * Single-writer, like every mutation here: the swap is crash-safe,
    * not concurrent-READER-safe — a query resolving the codes path in
    * the instant between the two renames fails (loudly; nothing
    * mis-reads). A serving estate runs maintenance through a layout
    * with a version pointer (or lands the codes in an Iceberg table)
    * to get snapshot isolation; this layout trades that for the plain
    * directory contract s42/s43 established. */
  def ivfpqCompact(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFilesPerCell: Int = 1): Unit = {
    require(targetFilesPerCell >= 1, "need targetFilesPerCell >= 1")
    val codes = new org.apache.hadoop.fs.Path(s"$path/codes")
    val staging = new org.apache.hadoop.fs.Path(s"$path/codes-compacting")
    val trash = new org.apache.hadoop.fs.Path(s"$path/codes-old")
    val fs = codes.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // CRASH RECOVERY FIRST: a previous run that died between its two
    // renames left the ONLY complete copies aside — deleting staging or
    // trash before re-homing one of them would destroy the index
    if (!fs.exists(codes)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))) {
        if (!fs.rename(staging, codes))
          throw new IllegalStateException(
            s"compaction recovery could not publish $staging")
      } else if (fs.exists(trash)) {
        if (!fs.rename(trash, codes))
          throw new IllegalStateException(
            s"compaction recovery could not restore $trash")
      } else throw new IllegalStateException(
        s"no codes table at $codes and nothing to recover")
    }
    fs.delete(staging, true)
    fs.delete(trash, true)
    // hash-repartition ON cell: each cell's rows land in exactly one
    // task, and partitionBy splits by value within the task — one file
    // per cell regardless of how many appends preceded. At estate scale
    // one file per cell is itself unbounded, so targetFilesPerCell > 1
    // salts the distribution by id — each cell splits into at most that
    // many files, each written by one task
    val codesDf = spark.read.parquet(codes.toString)
    val dist =
      if (targetFilesPerCell == 1) codesDf.repartition(col("cell"))
      else codesDf.repartition(col("cell"),
        pmod(col("v"), lit(targetFilesPerCell)))
    dist.write.partitionBy("cell").parquet(staging.toString)
    if (!fs.rename(codes, trash))
      throw new IllegalStateException(s"compaction could not move $codes aside")
    if (!fs.rename(staging, codes))
      throw new IllegalStateException(s"compaction could not publish $staging")
    fs.delete(trash, true)
  }

  /** Parquet file count per `cell=` partition of a persisted layout —
    * the maintenance introspection [[ivfpqCompact]]'s threshold policy
    * and the assertion suites share. Local-filesystem listing (the
    * layout the test estate uses); an object-store estate would read
    * the same counts from its listing API. */
  def codesFilesPerCell(path: String): Map[String, Int] = {
    val root = new java.io.File(s"$path/codes")
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => d.getName -> Option(d.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .count(_.getName.endsWith(".parquet"))).toMap
  }

  /** QUANTIZATION-ERROR DRIFT MONITOR — the refit trigger every
    * frozen-quantizer index needs (the FAISS operational guidance:
    * `add` keeps working as the distribution drifts, recall silently
    * degrades; imbalance/quantization stats are how you notice): per
    * vector, the EXACT integer squared reconstruction error under the
    * frozen model — |res − codebook[argmin]|² summed over subspaces,
    * which per subspace is simply the MINIMUM assignment distance, so
    * no reconstruction is materialized. Comparing the streamed
    * cohort's error mass against the build cohort's (s45 aggregates
    * both) is the drift signal: a frozen model encodes vectors it was
    * fit on tightly, drifted arrivals loosely. One narrow map-side
    * pass; everything integer, so the monitor itself hash-replays. */
  def ivfpqQuantizationError(df: DataFrame,
      model: IvfPqModel): DataFrame = {
    val subDims = model.dims / model.m
    val assigned = ivfpqCoarseAssign(df, model.coarse, model.dims,
      model.scale)
    model.codebooks.map(_.map(_.toArray).toArray).zipWithIndex
      .foldLeft(assigned) { case (acc, (cb, i)) =>
        // scoresExpr drops the shared |res_sub|² term; adding it back
        // makes min(score) the true squared distance to the chosen
        // codebook entry
        acc.withColumn(s"_rs$i", slice(col("_res"), i * subDims + 1, subDims))
          .withColumn(s"_e$i",
            array_min(KMeansQ.scoresExpr(col(s"_rs$i"), cb)) +
              aggregate(col(s"_rs$i"), lit(0L), (a, x) => a + x * x))
          .drop(s"_rs$i")
      }
      .select(col("v"), col("cell"),
        (0 until model.m).map(i => col(s"_e$i")).reduce(_ + _).as("err"))
  }

  /** Query the persisted IVFPQ layout: identical results to
    * [[ivfpqTopK]] with the build's parameters, but the index is read,
    * not refit, and the probe prunes the cell-partitioned codes scan at
    * the FILE level. */
  def ivfpqTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, corpus: DataFrame, queries: DataFrame, k: Int,
      kCand: Int, nProbe: Int = 2): DataFrame =
    ivfpqSearch(spark.read.parquet(s"$path/codes"), corpus, queries,
      ivfpqLoad(spark, path), k, kCand, nProbe, pruneCells = true)

  /** HARD-NEGATIVE MINING — the contrastive-training-data triplet shape
    * (anchor, positive, hard negatives; the dense-retrieval recipe of
    * Karpukhin et al. 2020): per anchor, candidates split by exact
    * quantized squared distance into three integer bands — NEAR-DUPS
    * (`d² ≤ dupMaxD2`, excluded entirely: a verbatim copy is a false
    * positive for contrastive loss), the POSITIVE band
    * (`dupMaxD2 < d² ≤ posMaxD2`, nearest one wins), and HARD NEGATIVES
    * (the `k` closest candidates BEYOND the positive band — close enough
    * to be hard, far enough to be wrong, which is exactly what makes the
    * gradient informative; random negatives are trivial). Returns
    * (q, role, rank, v, d2) — role 'positive' (rank 1) or 'negative'
    * (rank 1..k); an anchor with an empty positive band contributes only
    * negatives (the caller drops incomplete triplets).
    *
    * Everything is BIGINT-exact, so the mined set hash-replays. Scale
    * shape: anchors broadcast against one corpus scan; the per-anchor
    * ranking is a rank-filtered window (partial top-k per partition,
    * never a global sort). At estate scale pass `shortlist` — any (q, v)
    * candidate frame, e.g. [[pqRefineTopK]]'s output — and the exact
    * corpus-wide pass disappears ([[mmrTopK]]'s shortlist contract):
    * banding needs only SOME distance-faithful candidate set, d² is
    * recomputed exactly on the pool, and the corpus is touched once with
    * the shortlist broadcast onto it — never a cartesian. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      dupMaxD2: Long, posMaxD2: Long, dims: Int = 64,
      scale: Long = 1000000L,
      shortlist: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(posMaxD2 > dupMaxD2 && dupMaxD2 >= 0,
      s"need 0 <= dupMaxD2 < posMaxD2: $dupMaxD2, $posMaxD2")
    val qv = org.apache.spark.sql.graft.QuantOps
    val cc = corpus.select(col("vec_id").as("v"),
      qv.quantize(col("embedding"), dims, scale).as("_cv"))
    val qq = queries.select(col("vec_id").as("q"),
      qv.quantize(col("embedding"), dims, scale).as("_qq"))
    val pool = shortlist match {
      case Some(sl) =>
        // a shortlist is caller data: de-dup it before the join — a
        // duplicate (q, v) row would otherwise rank the same vector twice
        // and corrupt the positive/negative bands
        cc.join(broadcast(sl.select(col("q"), col("v")).distinct()), Seq("v"))
          .join(broadcast(qq), Seq("q"))
          .where(col("q") =!= col("v"))
      case None =>
        broadcast(qq).crossJoin(cc).where(col("q") =!= col("v"))
    }
    val d = pool
      .withColumn("d2", qv.l2sq(col("_qq"), col("_cv")))
      .where(col("d2").isNotNull && col("d2") > dupMaxD2)
    val w = Window.partitionBy(col("q")).orderBy(col("d2"), col("v"))
    val pos = d.where(col("d2") <= posMaxD2)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") === 1)
      .select(col("q"), lit("positive").as("role"), col("rank"),
        col("v"), col("d2"))
    val negs = d.where(col("d2") > posMaxD2)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q"), lit("negative").as("role"), col("rank"),
        col("v"), col("d2"))
    pos.unionAll(negs)
  }

  /** MMR-DIVERSIFIED top-k (Maximal Marginal Relevance, Carbonell &
    * Goldstein 1998): greedy selection balancing relevance against
    * redundancy — round 1 picks the nearest candidate, every later round
    * picks argmax of `λ·rel(q,d) − (1−λ)·max_sim(d, picked)`, so near-dup
    * results can't crowd the answer. The retrieval-diversification step a
    * training-data / RAG pipeline runs after ANN, here in the quantized
    * INTEGER domain: with distances (smaller = more similar) the score to
    * MAXIMIZE becomes `−num·d²(q,d) + (den−num)·min_{s∈picked} d²(d,s)`
    * (λ = num/den cross-multiplied) — every term BIGINT-exact, ties to
    * the smallest id, so the whole greedy trajectory hash-replays.
    *
    * Scale shape: candidate generation DEFAULTS to one exact integer
    * top-kCand per query (a full corpus pass per query set — fine for
    * evaluation, wrong at estate scale); pass `shortlist` — any
    * (q, v) candidate frame, e.g. [[pqRefineTopK]]'s output — to skip it:
    * MMR only needs SOME relevance-ordered candidate set, and relevance
    * is recomputed exactly on the shortlist rows, so the corpus is
    * touched once (a broadcast semi-join fetches the candidates' vectors;
    * never a cartesian). After candidates, every round touches
    * queries × kCand² PAIR rows (bounded by the pool, independent of
    * corpus size), distributed by query. k driver-side rounds of
    * fixed-size joins — actions ∝ k, like the KMeansQ iteration chain —
    * each `localCheckpoint`ed flat so lineage doesn't nest.
    *
    * Returns (q, round, v): the pick order IS the diversified ranking.
    * A query whose candidate pool runs dry before k rounds (corpus
    * smaller than k after self/null filtering, or a short shortlist)
    * returns FEWER than k rows; when a whole round picks nothing for any
    * query the loop stops early and logs, instead of spinning empty
    * joins. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      kCand: Int = 20, lambdaNum: Long = 7, lambdaDen: Long = 10,
      dims: Int = 64, scale: Long = 1000000L,
      shortlist: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && kCand >= k, "need kCand >= k >= 1")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"lambda must be a fraction in [0,1]: $lambdaNum/$lambdaDen")
    val qv = org.apache.spark.sql.graft.QuantOps
    val qq = queries.select(col("vec_id").as("q"),
      qv.quantize(col("embedding"), dims, scale).as("_qq"))
    val cc = corpus.select(col("vec_id").as("v"),
      qv.quantize(col("embedding"), dims, scale).as("_cv"))
    val cands = mmrCandidates(cc, qq, kCand, shortlist).localCheckpoint()
    // candidate-pair distances, computed ONCE: queries × kCand² rows
    val pd = cands.select(col("q"), col("v").as("d"), col("_cv").as("_a"))
      .join(cands.select(col("q"), col("v").as("s"), col("_cv").as("_b")),
        Seq("q"))
      .where(col("d") =!= col("s"))
      .select(col("q"), col("d"), col("s"),
        qv.l2sq(col("_a"), col("_b")).as("dist"))
      .where(col("dist").isNotNull)
      .localCheckpoint()
    val slim = cands.select(col("q"), col("v"), col("rel"))
    // round 1: pure relevance (standard MMR seed — nothing picked yet)
    val wPick = Window.partitionBy(col("q"))
      .orderBy(col("score").desc, col("v"))
    var picked = slim
      .withColumn("score", -col("rel"))
      .withColumn("rn", row_number().over(wPick)).where(col("rn") === 1)
      .select(col("q"), lit(1).as("round"), col("v"))
      .localCheckpoint()
    // every picked frame is localCheckpoint-materialized, so the count is
    // a cached-size read, not a recompute — it drives the dry-pool stop
    var pickedN = picked.count()
    var dry = false
    (2 to k).foreach { i =>
      if (!dry) {
        val minD = pd
          .join(picked.select(col("q"), col("v").as("s")), Seq("q", "s"))
          .groupBy(col("q"), col("d")).agg(min(col("dist")).as("min_d"))
          .select(col("q").as("mq"), col("d"), col("min_d"))
        val pick = slim
          .join(picked.select(col("q"), col("v")), Seq("q", "v"), "left_anti")
          .join(minD, col("q") === col("mq") && col("v") === col("d"))
          .withColumn("score",
            lit(-lambdaNum) * col("rel") +
              lit(lambdaDen - lambdaNum) * col("min_d"))
          .withColumn("rn", row_number().over(wPick)).where(col("rn") === 1)
          .select(col("q"), lit(i).as("round"), col("v"))
        val stale = picked
        picked = picked.union(pick).localCheckpoint()
        Dedup.release(stale)
        val n = picked.count()
        if (n == pickedN) {
          // every query's pool ran dry: later rounds would only spin the
          // same empty joins — stop, and say so (callers expecting k rows
          // per query must not be silently surprised)
          log.warn(s"mmrTopK: candidate pool dry after round ${i - 1} of " +
            s"$k — queries return fewer than k rows")
          dry = true
        }
        pickedN = n
      }
    }
    Dedup.release(cands); Dedup.release(pd)
    // like nearDuplicates: the result is localCheckpoint-backed — callers
    // that care free it with Dedup.release when done
    picked
  }

  /** MMR candidate generation, separated so its PLAN is testable (mmrTopK
    * localCheckpoints eagerly, which erases lineage): `cc`/`qq` are the
    * quantized (v, _cv) / (q, _qq) frames. With a `shortlist` — any
    * (q, v) candidate frame, e.g. [[pqRefineTopK]]'s output — the corpus
    * is scanned once and the shortlist broadcasts to both joins: no
    * corpus shuffle, no cartesian (PlanSpec pins this). Without one, the
    * exact path cross-joins queries × corpus and keeps top-kCand by
    * integer distance — fine for evaluation, the thing you swap OUT at
    * estate scale. */
  private[graft] def mmrCandidates(cc: DataFrame, qq: DataFrame, kCand: Int,
      shortlist: Option[DataFrame]): DataFrame = {
    val qv = org.apache.spark.sql.graft.QuantOps
    val wRel = Window.partitionBy(col("q")).orderBy(col("rel"), col("v"))
    val base = shortlist match {
      case Some(sl) =>
        // rel is recomputed exactly on the shortlist rows, so the greedy
        // trajectory stays hash-replayable even off an approximate
        // (ADC-ranked) shortlist. The shortlist is caller data: de-dup it
        // (a duplicate (q, v) would double rows in the pair table) and
        // trim the pool to top-kCand by exact rel — MMR's per-round pair
        // cost grows with |pool|², so an oversized shortlist must shrink
        // to the same bound the exact path enforces, not pass through
        cc.join(broadcast(sl.select(col("q"), col("v")).distinct()), Seq("v"))
          .join(broadcast(qq), Seq("q"))
          .where(col("q") =!= col("v"))
          .withColumn("rel", qv.l2sq(col("_qq"), col("_cv")))
          .where(col("rel").isNotNull)
          .withColumn("rn", row_number().over(wRel))
          .where(col("rn") <= kCand)
      case None =>
        qq.crossJoin(cc).where(col("q") =!= col("v"))
          .withColumn("rel", qv.l2sq(col("_qq"), col("_cv")))
          .where(col("rel").isNotNull) // malformed vectors must never rank
          .withColumn("rn", row_number().over(wRel))
          .where(col("rn") <= kCand)
    }
    base.select(col("q"), col("v"), col("rel"), col("_cv"))
  }

  /** [[ivfqTopK]] with a metadata predicate applied BELOW the cell probe —
    * the s31 filter-then-search discipline on the IVF index path. The
    * corpus is filtered BEFORE quantization/assignment/scoring, so the
    * predicate composes with the corpus scan (Catalyst pushes it into the
    * parquet read: `PushedFilters`) and non-matching vectors are never
    * quantized, cell-assigned, or cosine-scored. Centers still fit on the
    * UNfiltered (sampled) corpus: the index is built once for everyone
    * while predicates vary per query — and because assignment is a
    * per-vector map with plan-literal centers, filtering before or after
    * assignment yields identical cells for the survivors. `keep` lists
    * metadata columns to carry into the result (after the rank). */
  def ivfqTopKFiltered(corpus: DataFrame, queries: DataFrame, k: Int,
      corpusFilter: Column, keep: Seq[String] = Nil,
      kCells: Int = 4, iters: Int = 2, nProbe: Int = 2, dims: Int = 64,
      scale: Long = 1000000L, fitSampleRate: Double = 1.0): DataFrame = {
    val fitInput =
      if (fitSampleRate >= 1.0) corpus
      else Sampling.deterministicSample(corpus, "vec_id", fitSampleRate)
    val centers = KMeansQ.fitMulti(
      fitInput, "embedding", m = 1, kCells, iters, dims, scale).head
    // the filter lands on the corpus scan; everything downstream —
    // assignment included — only touches survivors
    val filtered = corpus.where(corpusFilter)
    val assigned = KMeansQ.assign(
      filtered, "vec_id", "embedding", centers, dims, scale)
    val cells = filtered
      .select((Seq("vec_id", "embedding") ++ keep).map(col): _*)
      .join(assigned, "vec_id")
    val qq = queries.select(col("vec_id").as("q"), col("embedding").as("qe"))
      .withColumn("_qq", KMeansQ.quantize(col("qe"), dims, scale))
      .withColumn("_sc", KMeansQ.scoresExpr(col("_qq"), centers))
    val pw = Window.partitionBy(col("q")).orderBy(col("score"), col("cl"))
    val probes = qq
      .select(col("q"), col("qe"), posexplode(col("_sc")).as(Seq("cl", "score")))
      .withColumn("rn", row_number().over(pw))
      .where(col("rn") <= nProbe)
      .select(col("q"), col("qe"), col("cl"))
    val cand = broadcast(probes)
      .join(cells, col("cl") === col("cluster") && col("q") =!= col("vec_id"))
      .withColumn("c", cosine(col("qe"), col("embedding")))
    val w = Window.partitionBy(col("q"))
      .orderBy(round(col("c"), 6).desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select((Seq(col("q"), col("rank"), col("vec_id").as("v")) ++
        keep.map(col) :+ round(col("c"), 4).as("cos_sim")): _*)
  }

  /** Bucketed approximate top-k: candidates share the query's LSH bucket. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 4, dims: Int = 64): DataFrame = {
    val bucketed = corpus.select(col("vec_id").as("v"), col("embedding").as("ve"),
      norm(col("embedding")).as("vn"),
      lshSignature(col("embedding"), planes, dims).as("bucket"))
    val q = queries.select(col("vec_id").as("q"), col("embedding").as("qe"),
      norm(col("embedding")).as("qn"),
      lshSignature(col("embedding"), planes, dims).as("bucket"))
    val joined = q.join(bucketed, Seq("bucket"))
      .where(col("q") =!= col("v"))
      .withColumn("c", dot(col("qe"), col("ve")) / (col("qn") * col("vn")))
    val w = Window.partitionBy(col("q"))
      .orderBy(round(col("c"), 6).desc, col("v"))
    joined.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q"), col("rank"), col("v"), round(col("c"), 4).as("cos_sim"))
  }
}
