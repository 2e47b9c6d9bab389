package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import SimilarityOps.cosine

/** IVF quantizer and reference search of incremental ANN maintenance.
  * [[SimilarityOps.ivfTopK]] trains, assigns, and probes in one call:
  * right for a static corpus, O(corpus) per batch under a change stream.
  * The incremental design splits the index into
  *
  *  - a TRAINED QUANTIZER ([[IvfIndex]]): nlist centroids, trained once
  *    ([[train]]: bounded driver sample + optional corpus-wide refinement)
  *    and reused across batches — centroids enter every plan as literals;
  *  - an ASSIGNED STORE (id, cell, vec), maintained by [[LakeAnnStore]]:
  *    per refresh only the CHANGED vectors are assigned, and drift is
  *    answered by a retrain plus one re-assignment;
  *  - SEARCH: the same nprobe cell equi-join as the batch operator.
  *    [[search]] runs it over any (id, cell, vec) frame — the reference
  *    that the store's cell-pruned search must equal.
  */
object IncrementalAnn {

  /** A trained coarse quantizer. `centroids(cell)(dim)`; tie-break
    * contract identical on both sides (prefer the SMALLEST cell id on
    * equal cosine) — see the batch operator's note.
    */
  final case class IvfIndex(centroids: Array[Array[Double]], nprobe: Int) {
    def nlist: Int = centroids.length
    private def ctrLits: Seq[Column] = centroids.map(ctr => typedLit(ctr.toSeq)).toSeq

    /** Nearest cell id for a vector column. */
    def assignExpr(vec: Column): Column =
      if (nlist == 1) lit(0) // greatest() needs >= 2 args; one cell is trivial
      else -greatest(ctrLits.zipWithIndex.map { case (ctr, i) =>
        struct(cosine(vec, ctr).as("sim"), lit(-i).as("negcell"))
      }: _*).getField("negcell")

    /** The `nprobe` nearest cell ids (array) for a query vector. */
    def probeExpr(vec: Column): Column =
      slice(array_sort(array(ctrLits.zipWithIndex.map { case (ctr, i) =>
        struct((-cosine(vec, ctr)).as("negsim"), lit(i).as("cell"))
      }: _*)), 1, nprobe).getField("cell")
  }

  /** Train a quantizer: seeded deterministic sample → driver-side Lloyd;
    * a sample that leaves any cell empty triggers corpus-wide mean
    * refinement (aggregation collects nlist×dims doubles, never vectors).
    * Factored from the batch operator so both paths train identically.
    */
  def train(corpus: DataFrame, vecCol: String, idCol: String,
            nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
            trainSample: Int = 4096, seed: Long = 42L,
            distributedIters: Int = 0): IvfIndex = {
    // sample hash over the RAW id column (no cast): keeps the trained
    // centroids bit-identical to the batch operator's historical output
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val sample: Array[Array[Double]] = c
      .withColumn("__r", xxhash64(col("corpus_id"), lit(seed)))
      .orderBy("__r").limit(trainSample)
      .select("cv").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.length >= nlist, s"corpus smaller than nlist=$nlist")
    val dims = sample(0).length
    def cosineLocal(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dims) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def nearestLocal(v: Array[Double], ctrs: Array[Array[Double]]): Int = {
      var best = 0; var bestSim = Double.MinValue; var j = 0
      while (j < ctrs.length) {
        val s = cosineLocal(v, ctrs(j)); if (s > bestSim) { bestSim = s; best = j }; j += 1
      }
      best
    }
    var centroids = Array.tabulate(nlist)(i => sample(i * (sample.length / nlist)))
    for (_ <- 0 until iters) {
      val sums = Array.fill(nlist, dims)(0.0)
      val counts = new Array[Int](nlist)
      sample.foreach { v =>
        val best = nearestLocal(v, centroids)
        counts(best) += 1
        var d = 0; while (d < dims) { sums(best)(d) += v(d); d += 1 }
      }
      centroids = centroids.indices.map(j =>
        if (counts(j) == 0) centroids(j)
        else sums(j).map(_ / counts(j))).toArray
    }
    val sampleCovers = {
      val hit = new Array[Boolean](nlist)
      sample.foreach(v => hit(nearestLocal(v, centroids)) = true)
      hit.forall(identity)
    }
    val refineIters = math.max(distributedIters, if (sampleCovers) 0 else 1)
    for (_ <- 0 until refineIters) {
      val idx = IvfIndex(centroids, nprobe)
      val means = c.withColumn("cell", idx.assignExpr(col("cv")))
        .select(col("cell"), posexplode(col("cv")).as(Seq("d", "x")))
        .groupBy("cell", "d").agg(avg(col("x").cast("double")).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      centroids = next
    }
    IvfIndex(centroids, nprobe)
  }

  /** Top-k search over an assigned (id, cell, vec) store — identical plan
    * shape to the batch operator's probe phase: explode nprobe cells per
    * query, equi-join on cell, exact cosine re-rank inside the candidate
    * set.
    */
  def search(index: IvfIndex, store: DataFrame, queries: DataFrame,
             queryVec: String, queryId: String, k: Int): DataFrame = {
    val q = queries.select(col(queryId).cast("string").as("query_id"), col(queryVec).as("qv"))
      .withColumn("cell", explode(index.probeExpr(col("qv"))))
    val cand = q.join(store, Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .dropDuplicates("query_id", "id")
      .withColumn("cosine", cosine(col("qv"), col("vec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("corpus_id"), col("cosine"), col("rank"))
  }

  /** Persist a trained quantizer as one JSON doc (centroids + nprobe);
    * [[loadIndex]] restores it bit-exactly — the index survives restarts
    * and can be shared across jobs without retraining.
    */
  def saveIndex(index: IvfIndex, path: String): Unit = {
    val doc = org.json4s.jackson.Serialization.write(
      Map("nprobe" -> index.nprobe,
        "centroids" -> index.centroids.map(_.toList).toList))(
      org.json4s.DefaultFormats)
    graft.lake.Manifest.writeAtomic(java.nio.file.Paths.get(path), doc)
  }

  def loadIndex(path: String): IvfIndex = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val json = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))))
    IvfIndex(
      (json \ "centroids").extract[List[List[Double]]].map(_.toArray).toArray,
      (json \ "nprobe").extract[Int])
  }
}
