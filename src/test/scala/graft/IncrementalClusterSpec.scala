package graft

import org.apache.spark.sql.functions._
import graft.lake.LakeTable
import graft.merge.CdcMerge
import graft.model.Schemas
import graft.ops.{GraphOps, IncrementalDedup}
import graft.stream.DedupMaintenance

/** Incrementally-maintained near-dup CLUSTER map: the pair log + touch log
  * driven by the table's own changelog must yield, at every version, the
  * same cluster assignment as a from-scratch recompute over the live
  * corpus — including the case the append-only pair log cannot express on
  * its own: an UPDATE that dissolves a previously-emitted pair (the touch
  * log's staleness rule is the retraction).
  */
class IncrementalClusterSpec extends SparkSpec {
  import spark.implicits._

  private val minJ = 0.5

  private def turn(conv: String, lsn: Long, text: String, op: String = "U") =
    (conv, 0, "assistant", text, null.asInstanceOf[String],
      new java.sql.Timestamp(1700000000000L + lsn), op, lsn)
  private def df(rows: Seq[(String, Int, String, String, String, java.sql.Timestamp, String, Long)]) =
    rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn")

  /** From-scratch oracle: batch pairs over the live corpus (same
    * estimator the maintenance loop uses) → connected components →
    * cluster per key (singletons = self).
    */
  private def batchClusters(corpus: Map[String, String]): Map[String, String] = {
    if (corpus.isEmpty) return Map.empty
    val cdf = corpus.toSeq.toDF("key", "text")
    val pairs = IncrementalDedup.pairsOf(cdf, "text", "key", 8, 4, minJ)
    GraphOps.clusterAssignments(cdf.select("key"), "key", pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("clustersAt == batch recompute across adds, a dissolving update, and a delete") {
    val dir = tmpDir("incclust")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val base = "a long shared answer about watermark semantics in structured streaming jobs"
      def awaitTrue(cond: => Boolean, ms: Long = 60000): Unit = {
        val deadline = System.currentTimeMillis() + ms
        while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
      }
      val h = DedupMaintenance.startLake(table, "text", s"$dir/pairs", s"$dir/store",
        minJaccard = minJ, pollMs = 30L, pinName = "clust-maint", numPids = 8,
        touchesDir = Some(s"$dir/touches"))
      try {
        var corpus = Map.empty[String, String]
        def checkAt(v: Long): Unit = {
          awaitTrue(h.processedVersion >= v)
          assert(h.failure.isEmpty, h.failure.toString)
          val inc = DedupMaintenance.clustersAt(spark, s"$dir/pairs",
            s"$dir/touches", v, minJ)
            .collect().map(r => r.getString(0) -> r.getString(1)).toMap
          assert(inc == batchClusters(corpus), s"cluster drift at v=$v")
        }

        // window 1: a near-dup trio + one distinct doc
        CdcMerge.apply(table, df(Seq(
          turn("a", 1, base + " alpha"), turn("b", 2, base + " beta"),
          turn("c", 3, base + " gamma"),
          turn("x", 4, "completely different text about parquet footers and bloom filters"))), 0L)
        corpus = Map("a#0" -> (base + " alpha"), "b#0" -> (base + " beta"),
          "c#0" -> (base + " gamma"),
          "x#0" -> "completely different text about parquet footers and bloom filters")
        checkAt(table.currentVersion)

        // window 2: another member joins the cluster
        CdcMerge.apply(table, df(Seq(turn("d", 5, base + " delta"))), 1L)
        corpus += ("d#0" -> (base + " delta"))
        checkAt(table.currentVersion)

        // window 3: b's text is REWRITTEN to something dissimilar — the
        // (a,b)/(b,c)/(b,d) pairs must dissolve without any retraction
        // record (staleness rule) while {a,c,d} stays one cluster
        val rewritten = "unrelated replacement body mentioning cost based optimizer statistics"
        CdcMerge.apply(table, df(Seq(turn("b", 6, rewritten))), 2L)
        corpus += ("b#0" -> rewritten)
        checkAt(table.currentVersion)
        val afterUpdate = DedupMaintenance.clustersAt(spark, s"$dir/pairs",
          s"$dir/touches", table.currentVersion, minJ)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        assert(afterUpdate("b#0") == "b#0", "b must be a singleton after the dissolve")
        assert(Set(afterUpdate("a#0"), afterUpdate("c#0"), afterUpdate("d#0")).size == 1)

        // window 4: delete a — cluster representative shifts, b stays out
        CdcMerge.apply(table, df(Seq(turn("a", 7, "", op = "D"))), 3L)
        corpus -= "a#0"
        checkAt(table.currentVersion)

        // window 5: b comes BACK into the cluster via another rewrite —
        // the re-emitted pair outranks its own earlier touches
        CdcMerge.apply(table, df(Seq(turn("b", 8, base + " beta again"))), 4L)
        corpus += ("b#0" -> (base + " beta again"))
        checkAt(table.currentVersion)

        // the split path REUSES the maintained map: a leakage-safe split
        // from clustersAt equals the split from a from-scratch pair graph
        // (no LSH, no CC re-run at split time)
        val live = corpus.keys.toSeq.toDF("key")
        val splits = Seq(("train", 80), ("val", 10), ("test", 10))
        val viaMaintained = GraphOps.leakageSafeSplitFromClusters(live, "key",
          DedupMaintenance.clustersAt(spark, s"$dir/pairs", s"$dir/touches",
            table.currentVersion, minJ), splits)
          .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
        val batchPairs = IncrementalDedup.pairsOf(
          corpus.toSeq.toDF("key", "text"), "text", "key", 8, 4, minJ)
        val viaBatch = GraphOps.leakageSafeSplit(live, "key", batchPairs, splits)
          .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
        assert(viaMaintained == viaBatch, "maintained-map split drifted from batch split")
      } finally h.close()
    } finally rmrf(dir)
  }
}
