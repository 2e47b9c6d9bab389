package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash building blocks of incremental near-duplicate maintenance —
  * the CDC-scale shape of dedup. The batch operators in [[DedupOps]]
  * recompute the whole corpus per run; under a change stream that is
  * O(corpus) work per batch. [[LakeDedupStore]] instead maintains a
  * MINHASH SIGNATURE STORE keyed by document, built from these pieces:
  *
  *  - per refresh, signatures are computed ONLY for the changed documents
  *    ([[signatureOf]], O(batch) shingling/hashing — the expensive leg);
  *  - fresh near-dup pairs are the banded LSH equi-join of the NEW
  *    signatures against the stored ones (candidate volume governed by
  *    the S-curve exactly as in the batch operator — never all-pairs);
  *  - pair similarity is ESTIMATED from the signatures
  *    ([[estimatedJaccard]], the standard unbiased MinHash estimator), so
  *    old documents' texts are never re-read.
  *
  * Pairs are emitted when their LATER member arrives; on a document
  * UPDATE the document's pairs are re-emitted against the current corpus,
  * so the consumer holds "latest pairs per key" exactly like the CDC
  * table holds latest rows. [[pairsOf]] is the from-scratch reference:
  * the same banded self-join and estimator over a whole corpus, which the
  * maintained pair state must equal at every version.
  *
  * Reference analogue: none (owid-etl has no streaming dedup); this
  * composes the repo's changelog-follower IVM pattern
  * (`stream/IncrementalAgg.scala`) with the batch LSH operator
  * (`DedupOps.minhashLshPairs`).
  */
object IncrementalDedup {

  /** Signatures of `df`'s documents: (key, sig, bands) with
    * k = bands·rowsPerBand components (same permutation family as the
    * batch operator, so batch and incremental results are bit-comparable).
    * The banded bucket ids are PRECOMPUTED here and stored with the
    * signature, so a refresh never re-slices and re-hashes stored rows.
    */
  def signatureOf(df: DataFrame, textCol: String, keyCol: String,
                  bands: Int, rowsPerBand: Int, shingleN: Int = 3): DataFrame =
    df.select(col(keyCol).cast("string").as("key"),
        DedupOps.minhashSignature(col(textCol), bands * rowsPerBand, shingleN).as("sig"))
      .withColumn("bands", transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.cast("int").as("band"),
          hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))).as("bucket"))))

  /** MinHash estimate of Jaccard: fraction of matching signature
    * components. Unbiased; stderr ≈ 1/sqrt(k).
    */
  def estimatedJaccard(a: Column, b: Column, k: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, m) => acc + m).cast("double") / lit(k.toDouble)

  /** All near-dup pairs of a whole corpus: the banded LSH self-join of
    * `docs`' signatures, deduplicated, with the signature estimate of
    * Jaccard. Returns (key_a, key_b, est_jaccard >= minJaccard),
    * key_a < key_b. O(corpus) — the from-scratch reference for the
    * incrementally maintained pair state of [[LakeDedupStore]].
    */
  def pairsOf(docs: DataFrame, textCol: String, keyCol: String,
              bands: Int = 8, rowsPerBand: Int = 4,
              minJaccard: Double = 0.7, shingleN: Int = 3): DataFrame = {
    val k = bands * rowsPerBand
    val sigs = signatureOf(docs, textCol, keyCol, bands, rowsPerBand, shingleN)
      .localCheckpoint(true)
    requireUniqueKeys(sigs, "IncrementalDedup.pairsOf")
    val banded = sigs.select(col("key"), col("sig"), explode(col("bands")).as("bb"))
      .select(col("key"), col("sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val l = banded.select(col("band"), col("bucket"), col("key").as("key_l"), col("sig").as("sig_l"))
    val r = banded.select(col("band"), col("bucket"), col("key").as("key_r"), col("sig").as("sig_r"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("key_l") < col("key_r"))
      .select(col("key_l").as("key_a"), col("key_r").as("key_b"),
        estimatedJaccard(col("sig_l"), col("sig_r"), k).as("est_jaccard"))
      .dropDuplicates("key_a", "key_b")
      .filter(col("est_jaccard") >= minJaccard)
  }

  /** A change batch must carry ONE row per key (latest wins upstream — a
    * raw CDC batch with several LSNs per key has not been resolved yet).
    * Silently accepting duplicates would permanently corrupt the store:
    * each duplicate appends its own band rows, but the key index keeps
    * only one signature to route later tombstones by, so the others
    * linger as candidates that never die and pair emission double-counts.
    * One aggregation over O(batch) rows; fails loudly.
    */
  private[ops] def requireUniqueKeys(batch: DataFrame, who: String): Unit = {
    val dup = batch.groupBy("key").count().filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"$who: change batch has multiple rows for key '${if (dup.isEmpty) "" else dup(0).get(0)}' — " +
      "resolve latest-per-key (e.g. max-LSN window) before refreshing the store")
  }
}
