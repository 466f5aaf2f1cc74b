package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two paths:
  *
  *  - brute-force cosine top-k: correctness baseline. The query set is
  *    broadcast (it is small by construction), so the "cross join" is a
  *    BroadcastNestedLoopJoin that streams the corpus exactly once — no
  *    shuffle of the corpus, scales linearly with corpus size;
  *  - LSH-bucketed (signed random projections): the 100-TB path. Signatures
  *    are deterministic (seeded hyperplane matrix folded as ONE literal —
  *    not per-row hash calls), buckets join as equi-joins, exact cosine
  *    reranks within buckets, and only `(query_id, cand_id, cos)` ever
  *    shuffles — the wide vectors stay map-side.
  *
  * All vector math is `zip_with`/`aggregate` Column expressions — no UDF,
  * no Python. HOF lambdas are interpreted, so every expensive term is an
  * argument (evaluated once), never a capture (re-evaluated per element).
  */
object Similarity {

  /** dot(a,b) as a Column over two array<float/double> columns. (HOF form,
    * kept for composition; the hot cosine path uses the native fused
    * expression below.) */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — the native codegen'd [[graft.functions.CosineSim]]
    * (one fused loop: dot + both norms). The equivalent
    * `aggregate(zip_with(...))` tree is interpreted per element and ran
    * three HOF folds per pair; it was the dominant per-pair cost of both
    * ANN paths. FP semantics (element order, per-element double casts,
    * `nn == 0 → 0.0`, null element / length mismatch → NULL) are identical
    * — SimilaritySpec pins exactness against plain Scala. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim(a, b)

  /** Brute-force cosine top-k: for every query vector, the k nearest corpus
    * vectors (excluding self-matches by id). Deterministic tie-break on
    * candidate id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cos", "rank")
  }

  /** Deterministic hyperplane component in [-1, 1): pure Scala splitmix64
    * of (seed, plane, dim) — computed ONCE at plan time into a literal
    * matrix, zero per-row hashing. */
  private def planeComponent(seed: Int, plane: Int, d: Int): Double = {
    val h = graft.gen.ChangeGen.mix64(
      seed.toLong * 0x9E3779B9L + plane.toLong * 100003L + d.toLong)
    ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
  }

  /** Signed-random-projection signature: `nPlanes` sign bits packed in a
    * long. Vectors with equal signature bands are cosine-close candidates.
    *
    * Delegates to the native [[graft.functions.SrpSignature]] Catalyst
    * expression (codegen'd two-level loop; the plane matrix rides as a
    * codegen reference object). An equivalent `aggregate(zip_with(...))`
    * Column tree is interpreted per element and measured ~100× slower —
    * slow enough that the LSH path lost to the brute-force baseline. */
  def srpSignature(vec: Column, dims: Int, nPlanes: Int, seed: Int = 42): Column = {
    require(nPlanes <= 63)
    graft.functions.SrpSignature(vec, planeMatrix(dims, nPlanes, seed))
  }

  /** The seeded hyperplane matrix itself — public so the DuckDB oracle
    * for the LSH ANN query can interpolate the SAME literal matrix into
    * SQL (the signature is then plain arithmetic both engines share). */
  def planeMatrix(dims: Int, nPlanes: Int, seed: Int = 42): Array[Array[Double]] =
    Array.tabulate(nPlanes, dims)((p, d) => planeComponent(seed, p, d))

  /** LSH-bucketed ANN: bucket by SRP signature bands, exact-cosine rerank
    * within buckets, top-k per query. Trades recall for never comparing a
    * query against the full corpus — the IVF/LSH scale path.
    *
    * Scale shape: cosine is computed inside the band join (map-side, at
    * most `bands` times per true pair) and the embedding vectors are
    * DROPPED there, so the plan's one exchange moves ids+score only: the
    * scored rows hash-partition on `query_id`, and both the dedupe of
    * multi-band hits on `(query_id, cand_id)` and the per-query top-k
    * window run over that partitioning.
    *
    * Trade-off: the exchange sits below the dedupe, so no map-side partial
    * aggregate removes repeat band hits first and up to `bands` rows per
    * true pair cross it, where a plain aggregate would shuffle deduped rows
    * twice. The one-exchange shape was measured faster only on small
    * inputs (sf0.001 embeddings, 5 queries), where stage count dominates;
    * on a large corpus with many queries the two-exchange shape may win. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, dims: Int,
              nPlanes: Int = 16, bands: Int = 4, seed: Int = 42): DataFrame = {
    require(nPlanes % bands == 0)
    val width = nPlanes / bands
    def banded(df: DataFrame, side: String): DataFrame = {
      val s = df.select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"${side}_v"))
        .withColumn("sig", srpSignature(col(s"${side}_v"), dims, nPlanes, seed))
      s.select(col(s"${side}_id"), col(s"${side}_v"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * width).bitwiseAND((1L << width) - 1)
              .as("bucket"))
        }: _*)).as("bb"))
        .select(col(s"${side}_id"), col(s"${side}_v"), col("bb.band"), col("bb.bucket"))
    }
    val c = banded(corpus, "cand")
    val q = banded(queries, "query")
    val scored = c.join(broadcast(q), Seq("band", "bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("query_v"), col("cand_v")))
      .select("query_id", "cand_id", "cos")
      .repartition(col("query_id"))
    // first(): cos is identical across the band hits of one pair
    val candidates = scored.groupBy("query_id", "cand_id")
      .agg(first(col("cos")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cos", "rank")
  }

  // ---------------- IVF (inverted-file) coarse-quantizer ANN --------------

  /** Deterministic centroid sample for the IVF coarse quantizer: the
    * `nCells` LOWEST-id corpus vectors with `id % sampleMod == 0`, in id
    * order (cell i = i-th sampled vector). Sampling-as-training is the
    * standard k-means initialization (k-means|| starts exactly this way);
    * a deterministic modulo sample keeps the index reproducible AND lets
    * the DuckDB oracle recompute the identical centroid set in SQL.
    *
    * The collect here is the INDEX-BUILD step, bounded by `nCells` rows by
    * construction (centroid sets are small — faiss trains its quantizer on
    * the driver/host for the same reason); it is the same
    * small-by-construction pattern as broadcasting the query set. */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nCells: Int, sampleMod: Int): Array[Array[Float]] = {
    val cents = corpus
      .filter(col(idCol) % sampleMod === 0)
      .select(col(idCol), col(vecCol))
      .orderBy(col(idCol))
      .limit(nCells)
      .collect()
      // accept array<float|double>, matching IvfCellRank/CosineSim's
      // input contract — a hard getSeq[Float] would CCE on double vectors
      .map(_.getSeq[Any](1).map {
        case f: Float => f
        case d: Double => d.toFloat
        case x => throw new IllegalArgumentException(
          s"IVF vector column '$vecCol' must be array<float|double>, " +
            s"found element ${if (x == null) "null" else x.getClass.getName}")
      }.toArray)
    require(cents.nonEmpty, "IVF centroid sample is empty — lower sampleMod")
    cents
  }

  /** IVF cell assignment: argmax over per-centroid cosine, ties broken to
    * the LOWEST cell id. One native codegen'd ranking expression
    * ([[graft.functions.IvfCellRank]] — the centroid matrix rides as a
    * single codegen reference object, not nCells vector literals) — per-row
    * map-only work, no join, no shuffle, no per-row hashing. A null vector
    * element or a dims mismatch scores -2.0 per cell — below any real
    * cosine — so malformed rows still land in SOME cell (cell 0) instead
    * of killing the scan. */
  def ivfAssign(vec: Column, centroids: Array[Array[Float]]): Column =
    element_at(cellRank(vec, centroids), 1)

  /** Top-`nProbe` cells for a query vector, best-first — descending
    * `(cos, -cell)`, i.e. ties to the lowest cell id, mirroring
    * [[ivfAssign]] so the assigned cell is always probe #1. */
  private def ivfProbe(vec: Column, centroids: Array[Array[Float]],
                       nProbe: Int): Column =
    slice(cellRank(vec, centroids), 1, nProbe)

  private def cellRank(vec: Column, centroids: Array[Array[Float]]): Column =
    graft.functions.IvfCellRank(vec,
      centroids.map(_.map(_.toDouble))) // float→double is exact

  /** IVF ANN: assign every corpus vector to its nearest sampled centroid
    * (map-only codegen, [[ivfAssign]]), probe each query's `nProbe`
    * nearest cells, exact-cosine rerank inside the probed cells, top-k per
    * query. The second of the two sub-linear scale paths the engine ships
    * (alongside [[lshTopK]]): LSH bounds collisions probabilistically; IVF
    * bounds them structurally — each query scores at most the corpus mass
    * of `nProbe` of `nCells` cells (~`nProbe/nCells` of the corpus when
    * balanced), and recall follows cell geometry, not band luck.
    *
    * Scale shape: the corpus never shuffles — assignment is map-side, the
    * probe join is a BroadcastHashJoin on `cell` (query side is
    * |queries|·nProbe rows), and vectors are DROPPED before the only
    * exchange (the per-query top-k window moves ids+score only). Each
    * (query, cand) pair joins at most once (a candidate has exactly ONE
    * cell and a query's probed cells are distinct), so no dedupe pass is
    * needed. At 100 TB the assignment is materialized once and the table
    * written bucketed/partitioned BY `cell`, turning the probe join into a
    * partition-pruned scan of `nProbe` buckets; the query-time shape here
    * is identical. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nCells: Int, nProbe: Int, sampleMod: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells)
    val cents = ivfCentroids(corpus, idCol, vecCol, nCells, sampleMod)
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
      .withColumn("cell", ivfAssign(col("cv"), cents))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(ivfProbe(col("qv"), cents, nProbe)))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .select("query_id", "cand_id", "cos") // vectors dropped pre-exchange
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cos", "rank")
  }
}
