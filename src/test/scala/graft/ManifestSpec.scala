package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.gen.WalGen
import graft.lake.{FileEntry, LakeTable, Manifest}
import graft.merge.CdcMerge
import graft.model.Schemas

/** Split (v2) manifests: per-bucket content-addressed segments — a commit
  * writes only the CHANGED buckets' file lists, unchanged buckets reuse
  * their segment files byte-for-byte; v1 inline documents stay readable.
  */
class ManifestSpec extends SparkSpec {

  test("commits reuse unchanged buckets' segments; only touched buckets write new ones") {
    val dir = tmpDir("seg")
    val cfg = WalGen.Config(numEvents = 4000, numConvs = 100)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      CdcMerge.apply(table, WalGen.events(spark, cfg, 0, 4000).toDF(), 0L)
      val mdir = Paths.get(s"$dir/t/_manifests")
      def segs() = Files.list(mdir).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("seg-")).toSet
      val segsAfterFull = segs()
      assert(segsAfterFull.nonEmpty)
      // a single-conversation batch touches ONE bucket → exactly one new segment
      val ev = WalGen.events(spark, cfg, 0, 200).toDF()
      val cid = ev.select("conv_id").first().getString(0)
      CdcMerge.apply(table, ev.filter(org.apache.spark.sql.functions.col("conv_id") === cid), 1L)
      val added = segs() -- segsAfterFull
      assert(added.size == 1, s"expected 1 new segment, got $added")
      val b = table.bucketOf(cid, 4)
      assert(added.head.startsWith(s"seg-$b-"), s"${added.head} not for bucket $b")
      // the top doc stays small: it references segments, never inlines files
      val top = new String(Files.readAllBytes(
        mdir.resolve(f"manifest-${table.currentVersion}%010d.json")))
      assert(top.contains("\"segments\""))
      assert(!top.contains("\"path\":\"data/")) // no inline file entries
      // round-trip: manifest loads the full file list from segments
      val m = table.manifest
      assert(m.files.nonEmpty && m.files.forall(f =>
        Files.exists(Paths.get(s"$dir/t").resolve(f.path))))
    } finally rmrf(dir)
  }

  test("metadata vacuum bounds the time-travel horizon; kept versions stay intact") {
    val dir = tmpDir("segvac")
    val cfg = WalGen.Config(numEvents = 4000, numConvs = 60)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      (0 until 4).foreach { b =>
        CdcMerge.apply(table, WalGen.events(spark, cfg, b * 1000L, (b + 1) * 1000L).toDF(), b.toLong)
      }
      val mdir = Paths.get(s"$dir/t/_manifests")
      def count(prefix: String) = Files.list(mdir).iterator().asScala
        .count(_.getFileName.toString.startsWith(prefix))
      val segsBefore = count("seg-")
      val (rm, rs) = table.vacuumMetadata(keepVersions = 2)
      assert(rm == 3 && rs > 0, s"removed ($rm manifests, $rs segs)") // v0..v2 dropped
      assert(count("seg-") == segsBefore - rs)
      // current + previous version still read fine
      val cur = table.currentVersion
      assert(table.snapshotAt(cur).count() == table.snapshot().count())
      assert(table.snapshotAt(cur - 1).count() > 0)
      // past the horizon → loud failure (missing manifest), never silent
      intercept[Exception](table.snapshotAt(cur - 2).count())
      // data files untouched
      assert(table.manifest.files.forall(f =>
        Files.exists(Paths.get(s"$dir/t").resolve(f.path))))
    } finally rmrf(dir)
  }

  test("the current manifest is parsed once per version; other instances' commits and the metadata horizon still show") {
    val dir = tmpDir("segmemo")
    val cfg = WalGen.Config(numEvents = 3000, numConvs = 40)
    try {
      val a = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      CdcMerge.apply(a, WalGen.events(spark, cfg, 0, 1000).toDF(), 0L)
      val m1 = a.manifest
      assert(a.manifest eq m1, "an unchanged version was parsed again")
      // a commit through a second instance on the same root is seen by the first
      val b = LakeTable.load(spark, s"$dir/t")
      CdcMerge.apply(b, WalGen.events(spark, cfg, 1000, 2000).toDF(), 1L)
      val m2 = a.manifest
      assert(m2.version == m1.version + 1 && m2 == Manifest.readSplit(a.manifestDir, m2.version))
      // a metadata-vacuumed version throws even while it is the memo's entry
      CdcMerge.apply(b, WalGen.events(spark, cfg, 2000, 3000).toDF(), 2L)
      b.vacuumMetadata(keepVersions = 1)
      intercept[java.nio.file.NoSuchFileException](a.manifestAt(m2.version))
      assert(a.manifest.version == m2.version + 1)
    } finally rmrf(dir)
  }

  test("v1 inline manifests remain readable") {
    val dir = tmpDir("segv1")
    try {
      val mdir = Paths.get(s"$dir/_manifests")
      val m = Manifest.empty(2, Schemas.transcript.toDDL).copy(
        version = 7L,
        files = Seq(FileEntry("data/bucket=0/f.parquet", 0, 10L, 5L, 0, FileEntry.BASE, 1L)))
      // write the OLD inline form by hand
      Manifest.writeAtomic(mdir.resolve(f"manifest-${7L}%010d.json"),
        Manifest.toJson(m.copy(formatVersion = 1)))
      val back = Manifest.readSplit(mdir, 7L)
      assert(back.files == m.files && back.version == 7L)
    } finally rmrf(dir)
  }
}
