package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * - `cosine` — codegen'd higher-order-function dot/norm (zip_with +
  *   aggregate), left-to-right accumulation in double so results are
  *   reproducible across engines.
  * - `bruteForceTopK` — the exact baseline: broadcast the (small) query
  *   set against the corpus, O(k)-heap rank per query (rankTopK).
  *   Corpus-side scan is embarrassingly parallel; the only shuffle
  *   carries k structs per query.
  * - `Ivf` — the scale path: deterministic coarse quantizer; corpus
  *   bucketed by nearest centroid (computed once, reusable); queries
  *   probe only `nprobe` nearest buckets. At 100 TB the bucketed
  *   corpus is the index — probe cost is nprobe/k of a full scan.
  */
object Similarity {

  /** Left-to-right double dot product of two float-array columns —
    * native codegen'd kernel (see plans/DotProduct.scala). Bit-exact
    * with `dotDeclarative`, asserted in SimilaritySpec. */
  def dot(x: Column, y: Column): Column = graft.plans.DotProduct(x, y)

  /** The declarative HOF formulation of `dot` — kept as the
    * cross-engine reference path for tests; interpreted lambdas make it
    * several-fold slower per pair, so hot paths use `dot`. */
  def dotDeclarative(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Euclidean norm. */
  def norm(x: Column): Column = sqrt(dot(x, x))

  /** Cosine similarity of two float-array columns, accumulated in
    * double, fixed left-to-right order. For pairwise workloads prefer
    * `dot(a,b) / (normA * normB)` with norms PRECOMPUTED per row —
    * this inline form recomputes both norms per pair. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Top-k rows per query by (cos DESC, neighbor_id ASC) through the
    * O(k)-heap BoundedTopK aggregate. The window-rank formulation
    * sorts EVERY scored candidate of every query after the shuffle —
    * at corpus scale that is a |queries|×|corpus| sort; the heap
    * combines map-side and ships k structs per query. Tie-break
    * parity with the window: the heap keeps the largest
    * (cos, -neighbor_id) structs, so equal scores resolve to the
    * smallest id, and the descending eval order reproduces
    * row_number's sequence exactly. */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.plans.BoundedTopK(
        struct(col("cos"), (-col("neighbor_id")).as("nid")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("query_id"), (-col("e.nid")).as("neighbor_id"),
        col("e.cos").as("cos"), (col("i") + 1).as("rank"))

  /** Exact top-k neighbors for each query vector (excluding self).
    * Scores rounded to `roundTo` BEFORE ranking so ordering (with id
    * tie-break) is engine-reproducible. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, roundTo: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.ScoreFns.scoreRound(
          dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundTo).as("cos"))
    rankTopK(scored, k)
  }

  /** IVF-style approximate search with a deterministic coarse
    * quantizer: `centroids` is any small DataFrame of (centroid_id,
    * vector) — e.g. a fixed id-sampled subset, or k-means output. */
  object Ivf {

    /** Assign every corpus vector to its nearest centroid (rounded
      * score, lowest-id tie-break). Argmax as a max(struct) aggregation
      * — partial (map-side) aggregation applies, so unlike a window
      * rank nothing ever sorts the full corpus×centroids product. */
    def assign(corpus: DataFrame, centroids: DataFrame, idCol: String,
               vecCol: String, roundTo: Int = 4): DataFrame = {
      val cents = centroids.select(col("centroid_id"), col("cvec"),
        norm(col("cvec")).as("cnrm"))
      corpus.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__nrm"))
        .crossJoin(broadcast(cents))
        .withColumn("cscore", graft.functions.ScoreFns.scoreRound(
          dot(col(vecCol), col("cvec")) / (col("__nrm") * col("cnrm")), roundTo))
        .groupBy(col(idCol))
        .agg(
          max(struct(col("cscore"), (-col("centroid_id")).as("nid"))).as("m"),
          first(col(vecCol)).as(vecCol))
        .select(col(idCol), col(vecCol), (-col("m.nid")).as("bucket"))
    }

    /** Top-nprobe coarse buckets per query — (query_id, qv, qn,
      * bucket), one row per probed bucket, through the same O(k) heap
      * as rankTopK (qv/qn are group-constant, carried via first()).
      * Shared by [[search]] and the IVF-PQ composition in SimQueries. */
    def probe(centroids: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, nprobe: Int, roundTo: Int = 4): DataFrame = {
      val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        norm(col(vecCol)).as("qn"))
      val cents = centroids.select(col("centroid_id"), col("cvec"),
        norm(col("cvec")).as("cnrm"))
      q.crossJoin(broadcast(cents))
        .withColumn("cscore", graft.functions.ScoreFns.scoreRound(
          dot(col("qv"), col("cvec")) / (col("qn") * col("cnrm")), roundTo))
        .groupBy("query_id")
        .agg(graft.plans.BoundedTopK(
            struct(col("cscore"), (-col("centroid_id")).as("nid")), nprobe).as("top"),
          first(col("qv")).as("qv"), first(col("qn")).as("qn"))
        .select(col("query_id"), col("qv"), col("qn"),
          explode(col("top")).as("e"))
        .select(col("query_id"), col("qv"), col("qn"),
          (-col("e.nid")).as("bucket"))
    }

    /** Probe: rank centroids per query, search only the top-nprobe
      * buckets, then exact-rank within the probed subset. */
    def search(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int, nprobe: Int,
               roundTo: Int = 4): DataFrame = {
      val probes = probe(centroids, queries, idCol, vecCol, nprobe, roundTo)
      val scored = assigned.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
          norm(col(vecCol)).as("cn"), col("bucket"))
        .join(broadcast(probes), Seq("bucket"))
        .where(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          graft.functions.ScoreFns.scoreRound(
            dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundTo).as("cos"))
      rankTopK(scored, k)
    }
  }

  /** Embedding near-duplicate pairs at/above a cosine threshold —
    * exact cross-join all-pairs, one [[dot]] per pair (the reference
    * baseline the faster paths are asserted against; LSH/IVF prune
    * candidates at scale). */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, roundTo: Int = 4): DataFrame = {
    val l = corpus.select(col(idCol).as("a"), col(vecCol).as("va"),
      norm(col(vecCol)).as("na"))
    val r = corpus.select(col(idCol).as("b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb"))
    l.crossJoin(r).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), roundTo).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Widened-element bytes per block of [[nearDupPairsBlocked]]; a block
    * holds `BlockBytes / (8 × dim)` vectors (512 at dim 64). At that
    * size one full-block kernel call does 32k multiply-adds, so the
    * join's per-(row, block) plumbing is noise, while a block row stays
    * small enough to broadcast and a large corpus still splits into
    * many blocks that spread over the join's tasks. */
  val BlockBytes: Int = 256 * 1024

  /** The same pairs as [[nearDupPairs]], bit-identical, from a blocked
    * dense kernel: vectors are grouped into id-range blocks of
    * `BlockBytes / (8 × dim)` vectors (keyed by their own length, so
    * every block has one `dim`), each block becomes one row of ids, one
    * flat row-major array of widened elements and norms, and every
    * vector row is joined to the blocks whose largest id exceeds its
    * own (the planner broadcasts whichever side fits, or falls back to
    * a cartesian product).
    * [[graft.plans.BlockCosine]] scores the row against the whole
    * block in one primitive loop and keeps members whose unrounded
    * cosine is at least `threshold − 10^-roundTo` — strictly looser
    * than any value whose HALF_UP rounding reaches the threshold — and
    * the final rounding and `>= threshold` are the baseline's own
    * Column expressions, so the output is the baseline's exactly
    * (zero vectors, NaN and length mismatches included). Null ids and
    * null vectors pair with nothing, as on the baseline. Ids are
    * compared as longs; the output is hash-partitioned by `a`. */
  def nearDupPairsBlocked(corpus: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, roundTo: Int = 4): DataFrame = {
    val v = corpus.where(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"),
        norm(col(vecCol)).as("__n"))
    // the block arrays are the aggregate's own result expressions, so
    // they are materialized once per block: as a projection above it,
    // generated code would rebuild them inside the join's loop
    val members = collect_list(struct(col("__id"), col("__n"), col("__v")))
    val blocks = v
      .groupBy(size(col("__v")).as("dim"), expr(
        s"__id div greatest(1, ${BlockBytes / 8} div greatest(size(__v), 1))").as("__blk"))
      .agg(max(col("__id")).as("maxId"), members.getField("__id").as("ids"),
        flatten(members.getField("__v")).as("vals"),
        members.getField("__n").as("norms"))
    v.join(blocks, col("__id") < col("maxId"))
      .select(col("__id").as("a"), col("__n").as("na"),
        inline(graft.plans.BlockCosine(col("__id"), col("__v"), col("__n"),
          col("dim"), col("ids"), col("vals"), col("norms"),
          threshold - math.pow(10, -roundTo))))
      .select(col("a"), col("b"),
        graft.functions.ScoreFns.scoreRound(
          col("dot") / (col("na") * col("nb")), roundTo).as("cos"))
      .where(col("cos") >= threshold)
      // end at a shuffle of the (few) kept pairs: a consumer that reads
      // its input twice — a global sort samples it, then shuffles it —
      // then re-reads these pairs instead of scoring all pairs again
      // (at 20 000 vectors on 4 cores: 19 s → 11 s for a sorted write)
      .repartition(col("a"))
  }
}
