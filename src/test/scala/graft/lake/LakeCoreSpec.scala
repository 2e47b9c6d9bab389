package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.gen.WalGen
import graft.merge.CdcMerge
import graft.model.Schemas

/** The one manifest-table core under both of its owners: a [[LakeTable]]
  * (split manifests) and a [[BucketStore]] (inline manifests) commit,
  * memoize, stage and reclaim through the same [[LakeCore]].
  */
class LakeCoreSpec extends graft.SparkSpec {
  import spark.implicits._

  private val storeSchema = StructType(Seq(
    StructField("g", IntegerType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("v", IntegerType)))

  private def storeContent(bs: BucketStore): Set[(Int, String, Int)] =
    bs.read(None).collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet

  /** The core contract on one root. `open()` loads a fresh instance and
    * returns its core plus a write through that instance's owner API.
    */
  private def coreContract(open: () => (LakeCore, () => Unit), formatVersion: Int): Unit = {
    val (a, writeA) = open()
    writeA()
    val v1 = a.currentVersion
    // the memo after a commit is the manifest exactly as a cold read
    // returns it: same file order, same format version
    val m1 = a.manifest
    assert(m1 == open()._1.manifestAt(v1), "memo differs from a cold read")
    assert(m1.formatVersion == formatVersion)
    assert(a.manifest eq m1, "an unchanged version was parsed again")
    // a commit through a second instance wins the CAS; the first
    // instance's stale-parent commit gets the typed conflict
    val (b, writeB) = open()
    writeB()
    val v2 = b.currentVersion
    assert(v2 == v1 + 1)
    val e = intercept[CommitConflict](a.commit(m1.copy(version = v1 + 1, files = Nil), v1))
    assert(e.getMessage.contains("concurrent commit") && e.current == v2 && e.expected == v1)
    // the winner's state is intact and seen by the first instance
    assert(b.currentVersion == v2)
    assert(a.manifest == b.manifest && a.manifest == open()._1.manifestAt(v2))
    assert(a.manifest.files.size > m1.files.size)
    assert(a.manifest.files.forall(f => Files.exists(a.root.resolve(f.path))))
  }

  test("core contract on a table and a store: typed CAS conflict, cold-equal memo, cross-instance commits") {
    val dir = tmpDir("core-contract")
    try {
      // table: split manifests, merged WalGen batches
      val cfg = WalGen.Config(numEvents = 2000, numConvs = 40)
      val tdir = s"$dir/t"
      LakeTable.create(spark, tdir, Schemas.transcript, numBuckets = 4)
      var epoch = 0L
      coreContract(() => {
        val t = LakeTable.load(spark, tdir)
        (t.core, () => {
          CdcMerge.apply(t, WalGen.events(spark, cfg, epoch * 1000, (epoch + 1) * 1000).toDF(), epoch)
          epoch += 1
        })
      }, formatVersion = Manifest.FORMAT_VERSION)
      val oracle = WalGen.oracleState(cfg)
      val got = LakeTable.load(spark, tdir).snapshot().select("conv_id", "turn_idx", "text").collect()
        .map(r => ((r.getString(0), r.getInt(1)), r.getString(2))).toMap
      assert(got.size == oracle.size && oracle.forall { case (k, ev) => got(k) == ev.text })

      // store: inline manifests, appended rows
      val sdir = s"$dir/s"
      BucketStore.create(spark, sdir, storeSchema, Seq("g"), Seq("g", "id"), numPids = 4)
      var wm = 0L
      coreContract(() => {
        val bs = BucketStore.load(spark, sdir)
        (bs.core, () => {
          wm += 1
          bs.append(Seq((wm.toInt, s"k$wm", 10 * wm.toInt)).toDF("g", "id", "v"), wm)
        })
      }, formatVersion = 1)
      val bs = BucketStore.load(spark, sdir)
      assert(storeContent(bs) == Set((1, "k1", 10), (2, "k2", 20)) && bs.watermark == 2L)
    } finally rmrf(dir)
  }

  test("a crashed BucketStore append leaves a staging attempt that the next append reclaims") {
    val dir = tmpDir("core-crash")
    try {
      val root = Paths.get(s"$dir/b")
      val bs = BucketStore.create(spark, root.toString, storeSchema, Seq("g"), Seq("g", "id"), numPids = 4)
      bs.append(Seq((1, "a", 10), (2, "b", 20)).toDF("g", "id", "v"), 1L)
      // every path under a top-level `_staging*` entry of the store root
      def staging(): Set[Path] = {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(p => p != root &&
          root.relativize(p).getName(0).toString.startsWith("_staging")).toSet
        finally s.close()
      }
      val before = staging()
      // a UDF that throws on one row, over a scan (a local relation would
      // be folded, and the UDF run, before any write starts)
      val boom = udf((v: Int) => { if (v == 5) throw new RuntimeException("injected write failure"); v })
      val bad = spark.range(3, 6).select(col("id").cast("int").as("g"),
        concat(lit("k"), col("id")).as("id"), boom(col("id").cast("int")).as("v"))
      intercept[Exception](bs.append(bad, 2L))
      assert(bs.currentVersion == 1L && bs.watermark == 1L, "the failed append committed")
      val attempt = staging() -- before
      assert(attempt.nonEmpty, "the failed append left no staging entry to reclaim")
      // age the attempt past the staging sweep's grace window
      val old = FileTime.fromMillis(System.currentTimeMillis() - 2 * 3600000L)
      attempt.foreach(p => Files.setLastModifiedTime(p, old))
      bs.append(Seq((5, "e", 50)).toDF("g", "id", "v"), 3L)
      val left = attempt.filter(Files.exists(_))
      assert(left.isEmpty, s"the crashed attempt was not reclaimed: $left")
      assert(storeContent(bs) == Set((1, "a", 10), (2, "b", 20), (5, "e", 50)))
      assert(bs.watermark == 3L)
    } finally rmrf(dir)
  }
}
