package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns._

/** Deterministic Lloyd's k-means over `array<double>` embedding columns —
  * the clustering half of IVF (`Knn.ivfTopK` consumes the resulting
  * cluster column), so IVF works on corpora with no precomputed labels.
  *
  * Everything is engine-reproducible by construction:
  *  - init: the k vectors with the smallest `md5("km|" + id)` — a
  *    deterministic pseudo-random sample, no RNG state;
  *  - assignment: argmax cosine against the centroids (inlined as
  *    literals — the k-row equivalent of a broadcast) with a centroid-id
  *    tiebreak — one scan of the corpus per iteration, no shuffle of the
  *    vectors;
  *  - update: element-wise means via exact scaled-integer sums
  *    (order-independent accumulation), the same trick as
  *    `Knn.centroids`.
  *
  * Per iteration the centroid frame is eagerly `localCheckpoint`ed: it is
  * k rows, and truncating its lineage keeps downstream consumers (the
  * assignment is used 2-3× in an IVF query) from re-running the whole
  * iterative chain.
  *
  * At 100 TB: each iteration is one corpus scan (map-side cosine against
  * k broadcast centroids) plus one 64k-row shuffle for the sums — the
  * textbook distributed Lloyd's shape. Empty clusters drop out (k
  * shrinks), which is deterministic and mirrored by the oracle.
  */
object KMeans {

  /** Nearest-centroid assignment: (idCol, vecCol, cid). `cents` must be
    * (cid, cv) with `cv: array<double>`, and small (k rows): it is pulled
    * to the driver and inlined as literals, so the argmax is a single
    * map-side projection over the corpus — no cross-join row blowup, no
    * exchange. (A ranking window here would hash-shuffle corpus×k rows,
    * each carrying both vectors, every iteration.) Ties break to the
    * smallest cid, same as the oracle's `ORDER BY csim DESC, cid`. */
  def assign(corpus: DataFrame, idCol: String, vecCol: String,
             cents: DataFrame): DataFrame = {
    val cidType = cents.schema("cid").dataType
    val centRows = cents.select(col("cid").cast("long"), col("cv")).collect()
    require(centRows.nonEmpty, "assign needs at least one centroid")
    val scored = array(centRows.map { r =>
      struct(
        cosineFast(col(vecCol), typedLit(r.getSeq[Double](1))).as("csim"),
        lit(-r.getLong(0)).as("ncid"))
    }.toIndexedSeq: _*)
    corpus.select(col(idCol), col(vecCol),
      (-array_max(scored).getField("ncid")).cast(cidType).as("cid"))
  }

  /** Element-wise centroid means with exact scaled-int accumulation. */
  def centroidsOf(assigned: DataFrame, vecCol: String): DataFrame =
    assigned.select(col("cid"), posexplode(col(vecCol)))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(round(col("col") * 1e6).cast("long")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          (col("s").cast("double") / 1e6 / col("n")).as("v")))),
        x => x.getField("v")).as("cv"))

  /** Run `iters` Lloyd's iterations; returns the final centroids
    * (cid, cv). Feed through `assign` for the corpus clustering. */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
          k: Int, iters: Int): DataFrame = {
    val hash = md5(concat(lit("km|"), col(idCol).cast("string")))
    val seeds = corpus.select(col(idCol), col(vecCol))
      .withColumn("__h", hash)
      .orderBy("__h").limit(k)
    val seedCents = seeds
      // global window audit (r19): frame = `seeds`, already LIMIT k —
      // the single-partition row_number touches k rows, never the corpus
      .withColumn("cid", row_number().over(Window.orderBy("__h")) - 1)
      .select(col("cid"), col(vecCol).as("cv"))
      .localCheckpoint(true)
    var cents = seedCents
    // lazy per-round checkpoints (r16; comment corrected r18): assign()
    // collects the centroids at the top of every round, so that driver
    // action forces each round regardless of eagerness — the rounds do
    // NOT collapse into one final job. What lazy buys is skipping the
    // SEPARATE materialization job an eager checkpoint adds per round
    // (iters extra jobs), while keeping lineage round-sized
    // (see PageRank.ranks)
    val rounds = collection.mutable.ArrayBuffer[DataFrame]()
    for (i <- 1 to iters) {
      cents = centroidsOf(assign(corpus, idCol, vecCol, cents), vecCol)
        .localCheckpoint(i == iters)
      if (i < iters) rounds += cents
    }
    rounds.foreach(Checkpoints.release) // k rows/round, but pinned forever otherwise
    if (iters > 0) Checkpoints.release(seedCents) // consumed by round 1 only
    cents
  }
}
