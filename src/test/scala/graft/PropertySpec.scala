package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.gen.WalGen
import graft.lake.{FileEntry, LakeTable}
import graft.merge.{CdcMerge, Compactor}
import graft.model.Schemas

/** Property-based convergence: for ANY partition of the WAL into ordered
  * micro-batches, any within-batch reordering, with or without compacting
  * each batch's buckets right after it lands, the final table equals the LSN-ordered oracle reduction (SURVEY.md §5;
  * FIXTURES.md scenarios dup-delivery / reorder / restart). ScalaCheck
  * generators with fixed seeds → deterministic cases.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val cfg = WalGen.Config(numEvents = 3000, numConvs = 40, maxTurns = 12,
    deleteFrac = 0.12, dupEvery = 17)
  private lazy val oracle = WalGen.oracleState(cfg)

  private val splitsGen: Gen[List[Long]] =
    Gen.chooseNum(1, 5).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, cfg.numEvents - 1)).map(_.distinct.sorted))

  test("any batch partition + reordering + mode converges to the oracle") {
    (0 until 8).foreach { caseId =>
      val splits = splitsGen.pureApply(Gen.Parameters.default, Seed(caseId.toLong))
      // odd cases fold each batch's buckets straight back into base files,
      // so the compaction rewrite stays under the random-split property
      val compactEach = caseId % 2 == 1
      val dir = tmpDir("prop")
      try {
        val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
        val bounds = (0L +: splits :+ cfg.numEvents).distinct.sorted
        bounds.sliding(2).toSeq.zipWithIndex.foreach { case (Seq(from, until), epoch) =>
          val batch = WalGen.events(spark, cfg, from, until)
            .orderBy(org.apache.spark.sql.functions.xxhash64(
              org.apache.spark.sql.functions.col("lsn"))) // reorder
          val st = CdcMerge.apply(table, batch.toDF(), epoch.toLong, saltBuckets = 4)
          if (compactEach) {
            val touched = table.manifest.files
              .filter(f => f.kind == FileEntry.DELTA && f.epoch == st.effEpoch).map(_.bucket).toSet
            assert(Compactor.compact(table, touched).isDefined)
          }
        }
        val got = table.snapshot().select("conv_id", "turn_idx", "text").collect()
          .map(r => ((r.getString(0), r.getInt(1)), r.getString(2))).toMap
        assert(got.size == oracle.size,
          s"case $caseId (splits=$splits, compactEach=$compactEach): size ${got.size} != ${oracle.size}")
        oracle.foreach { case (k, e) =>
          assert(got(k) == e.text, s"case $caseId: text mismatch at $k") }
      } finally rmrf(dir)
    }
  }
}
