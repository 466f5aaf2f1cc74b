package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Deduplication operators for a web-scale training-data pipeline.
  *
  * Scale notes (the design constraint, not an afterthought):
  *  - exact dedupe is a single hash-shuffle on the digest — the digest (8-64
  *    bytes) shuffles, never the document body;
  *  - MinHash-LSH / SimHash banding and the n-gram shingle join turn the
  *    O(n²) pairwise problem into groups on band (or shingle) keys, paired
  *    within each group over one hash exchange ([[cappedGroupPairs]]);
  *    oversized groups (degenerate content, e.g. empty docs) are capped
  *    rather than silently exploding the pair stream;
  *  - all hash functions are seed-parameterized xxhash64 — deterministic
  *    across runs/partitionings, codegen'd, no UDFs.
  */
object Dedup {

  /** Exact dedupe: canonical row per content digest (min id wins —
    * deterministic, unlike dropDuplicates). Only (digest, id) shuffles. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withSha = df.withColumn("content_sha", sha2(col(textCol), 256))
    val canon = withSha.groupBy("content_sha")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
    canon
  }

  /** Per-shingle base hashing: `baseHash` maps the whole shingle ARRAY to
    * an `array<long>` in one expression. The default wraps scalar
    * xxhash64 in a `transform` (interpreted per element — fine for tests
    * and small corpora); hot callers pass a native array kernel such as
    * `a => Md5PrefixLongArray(a, n)` so the per-element hash runs inside
    * one codegen'd loop. */
  private def defaultBaseHash: Column => Column =
    arr => transform(arr, s => xxhash64(s))

  /** MinHash signature column: array of `numHashes` 64-bit minima over
    * the doc's word `k`-shingles. Pure array expressions — per-row work,
    * zero shuffle.
    *
    * Perf-critical shape: the shingle set is hashed ONCE (array-level
    * `baseHash`), and the `numHashes` signature slots are derived from that
    * base hash by universal-hash remixes `a_i*h + b_i` (odd multipliers from
    * splitmix64 of the slot index) — cheap integer arithmetic instead of
    * re-tokenizing the document per slot. Writing it as
    * `array((0 until n).map(seed => array_min(transform(shingles, ...))))`
    * inlines the whole shingling expression tree n times and is ~50×
    * slower; measured, not theorized. */
  def minHashSignature(text: Column, k: Int, numHashes: Int,
                       baseHash: Column => Column = defaultBaseHash): Column = {
    val baseHashes = baseHash(TextAnalysis.shingles(text, k))
    val (as, bs) = minHashCoefficients(numHashes)
    // native codegen'd fold (graft.functions.MinHashSig): the equivalent
    // aggregate(zip_with(...)) Column tree is interpreted per element and
    // was the second-most-expensive query in the suite
    graft.functions.MinHashSig(baseHashes, as, bs)
  }

  /** (a_i, b_i) universal-hash coefficients, exposed so the DuckDB twin
    * oracle can interpolate the same literals into SQL. Both operands
    * masked to 31 bits so a*h+b ≤ 2^62 + 2^31 — no long overflow (Spark 4
    * runs ANSI mode: wrapping arithmetic THROWS). The later
    * `mod p` with Mersenne prime p = 2^31-1 is ESSENTIAL: without a
    * modulus a*h+b is monotone in h and every slot would pick the same
    * global-min shingle, degenerating all signatures. */
  def minHashCoefficients(numHashes: Int): (Array[Long], Array[Long]) = {
    val mask31 = 0x7FFFFFFFL
    val as = Array.tabulate(numHashes)(i =>
      (graft.gen.ChangeGen.mix64(i.toLong * 2 + 1) & mask31) | 1L) // odd
    val bs = Array.tabulate(numHashes)(i =>
      graft.gen.ChangeGen.mix64(~i.toLong) & mask31)
    (as, bs)
  }

  /** MinHash + LSH banding: returns candidate near-duplicate pairs
    * (id_a < id_b) whose signatures collide in ≥1 of `bands` bands, with
    * the estimated Jaccard from the full signature.
    *
    * numHashes must be divisible by bands; rows-per-band r = numHashes/bands.
    * Buckets larger than `maxBucket` are dropped (degenerate keys) — the
    * standard web-dedup guard against quadratic blowup on empty/boilerplate
    * docs; at 100 TB a single hot bucket would otherwise dominate the pair
    * stream. */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                 maxBucket: Int = 1000,
                 baseHash: Column => Column = defaultBaseHash,
                 bucketHash: Column => Column = xxhash64(_)): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val sig = df.select(col(idCol).as("id"),
      minHashSignature(col(textCol), k, numHashes, baseHash).as("sig"))

    val banded = sig.select(col("id"), col("sig"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          bucketHash(concat_ws(",", (0 until r).map(i => col("sig")(b * r + i)): _*))
            .as("bucket"))
      }: _*)).as("bb"))
      .select(col("bb.band"), col("bb.bucket"), col("id"), col("sig"))
    cappedGroupPairs(banded, Seq("band", "bucket"), maxBucket)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          (m: Column) => m)).cast("double") / lit(numHashes.toDouble))
          .as("est_jaccard"))
      .distinct()
  }

  /** Pairs of members of every group: one row per pair of rows of `rows`
    * that share the `keys` columns, as structs `a` and `b` of the other
    * columns (which hold an `id`), with `a.id < b.id`. A pair that shares
    * several groups appears once per group.
    *
    * Groups with a NULL key, or with more than `cap` members, give no
    * pairs: the hot-key guard, since a group of d members gives d² pairs.
    * The plan has ONE exchange: the cap is a window count over the
    * groups' hash partitioning, applied before members are gathered (a hot
    * group is never held as one row), and the gather reuses that
    * partitioning. Pairs come from exploding each group's member list
    * twice, so no self-join plans a second scan of the input. */
  private def cappedGroupPairs(rows: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val k = keys.map(col)
    val members = struct(rows.columns.toSeq.filterNot(keys.contains).map(col): _*)
    rows.filter(k.map(_.isNotNull).reduce(_ && _))
      .withColumn("group_size", count(lit(1)).over(Window.partitionBy(k: _*)))
      .filter(col("group_size") <= cap)
      .groupBy(k: _*).agg(collect_list(members).as("m"))
      .filter(size(col("m")) > 1)
      .select(explode(col("m")).as("a"), col("m"))
      .select(col("a"), explode(col("m")).as("b"))
      .filter(col("a.id") < col("b.id"))
  }

  /** SimHash: `nBits`-wide sign-of-weighted-bit-sums over word
    * `shingleK`-shingles (NOT unigrams: unigram simhash measures
    * bag-of-words profile similarity, so two documents sharing a
    * vocabulary collide with zero phrase overlap — measured ~900 spurious
    * pairs on a 500-doc same-vocabulary corpus; shingle features tie the
    * hash to local word order, the web-dedup standard).
    * Pure array expressions; returns the hash as a long (nBits ≤ 64). */
  def simHash(text: Column, nBits: Int = 64, shingleK: Int = 2,
              baseHash: Column => Column = defaultBaseHash): Column = {
    val hashes = baseHash(TextAnalysis.shingles(text, shingleK))
    // native codegen'd sign-vote fold (graft.functions.SimHashBits): the
    // equivalent aggregate(zip_with(...)) tree interprets N×nBits nodes
    // per row and was the most expensive query in the suite
    graft.functions.SimHashBits(hashes, nBits)
  }

  /** SimHash near-dup candidates: band the hash into `chunks` chunks; docs
    * sharing any chunk are candidates (Hamming ≤ chunks-1 guaranteed found).
    * Reports exact Hamming distance for downstream thresholding. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   nBits: Int = 64, chunks: Int = 8, shingleK: Int = 2,
                   maxBucket: Int = 1000,
                   baseHash: Column => Column = defaultBaseHash): DataFrame = {
    val width = nBits / chunks
    val hashed = df.select(col(idCol).as("id"),
      simHash(col(textCol), nBits, shingleK, baseHash).as("sh"))
    val banded = hashed.select(col("id"), col("sh"),
      explode(array((0 until chunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sh"), c * width).bitwiseAND((1L << width) - 1).as("bucket"))
      }: _*)).as("bb"))
      .select(col("bb.chunk"), col("bb.bucket"), col("id"), col("sh"))
    cappedGroupPairs(banded, Seq("chunk", "bucket"), maxBucket)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for candidate pairs: explode shingles,
    * pair the documents sharing each shingle, |A∩B| / (|A|+|B|-|A∩B|).
    * Grouping on the shingle is the scale path — never a cross join.
    * `minJaccard` prunes output.
    *
    * `maxShingleDocs` is the stop-shingle cap: a shingle present in d docs
    * contributes d² pair rows, so ubiquitous shingles dominate cost while
    * carrying no similarity signal (every web-scale dedup drops them).
    * d=100 caps per-shingle fan-out at 10^4 pairs; at d=1000 one common
    * trigram costs 10^6 and the join measured 128s vs ~2s on the same
    * 5k-doc corpus. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, minJaccard: Double = 0.5,
                   maxShingleDocs: Int = 100): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      array_distinct(TextAnalysis.shingles(col(textCol), k)).as("sh"))
    // the set size rides in the member struct, so the pair count carries
    // both sizes and the input is scanned and shingled once
    cappedGroupPairs(
        sh.select(explode(col("sh")).as("g"), col("id"), size(col("sh")).as("n")),
        Seq("g"), maxShingleDocs)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }
}
