package graft

import graft.store.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The Iceberg-style manifest layer: delta appends reference prior
  * files, reads prune by bucket, time travel pins file lists, rollback
  * recovers crashes. */
class SnapshotStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("store-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  def fresh(): SnapshotStore =
    new SnapshotStore(Files.createTempDirectory("store-spec").toString)

  test("appendDelta accumulates rows; per-wave physical write is only the delta") {
    val st = fresh()
    st.write(Seq.empty[(Int, String)].toDF("host_bucket", "v"), "t", -1)
    val id0 = st.appendDelta(Seq((0, "a"), (1, "b")).toDF("host_bucket", "v"), "t", 0,
      bucketCol = Some("host_bucket"))
    val id1 = st.appendDelta(Seq((0, "c")).toDF("host_bucket", "v"), "t", 1,
      bucketCol = Some("host_bucket"))
    assert(st.read(spark, "t").count() == 3)
    // snapshot 1's NEW files vs snapshot 0: only bucket 0 gained a file
    val f0 = st.snapshotFiles("t", id0)
    val f1 = st.snapshotFiles("t", id1)
    assert(f1(0).size == f0(0).size + 1)
    assert(f1(1) == f0(1))
    // time travel: snapshot id0 sees only the first delta
    assert(st.readSnapshot(spark, "t", id0).count() == 2)
  }

  test("readBuckets prunes to exactly the requested buckets' files") {
    val st = fresh()
    st.appendDelta(Seq((0, "a"), (1, "b"), (2, "c")).toDF("host_bucket", "v"), "t", 0,
      bucketCol = Some("host_bucket"))
    val pruned = st.readBuckets(spark, "t", Seq(1))
    assert(pruned.collect().map(_.getString(1)).toSeq == Seq("b"))
    val expected = st.currentFiles("t")(1).toSet
    assert(pruned.inputFiles.map(f => new java.net.URI(f).getPath).toSet == expected)
  }

  test("empty table reads back with the pinned schema") {
    val st = fresh()
    st.write(Seq.empty[(Int, String)].toDF("host_bucket", "v"), "t", -1)
    val df = st.read(spark, "t")
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq == Seq("host_bucket", "v"))
  }

  test("rollbackTo truncates the manifest and deletes orphan snapshots") {
    val st = fresh()
    st.write(Seq((0, "a")).toDF("host_bucket", "v"), "t", 0)
    st.commitWave(0, Map("t" -> st.currentSnapshot("t").get), Map.empty)
    st.appendDelta(Seq((0, "orphan")).toDF("host_bucket", "v"), "t", 1,
      bucketCol = Some("host_bucket")) // crash: written but never committed
    assert(st.read(spark, "t").count() == 2)
    st.recoverToLastCommit(Seq("t"))
    assert(st.read(spark, "t").collect().map(_.getString(1)).toSeq == Seq("a"))
    // next write after rollback gets a fresh id and a clean dir
    st.appendDelta(Seq((1, "b")).toDF("host_bucket", "v"), "t", 1,
      bucketCol = Some("host_bucket"))
    assert(st.read(spark, "t").collect().map(_.getString(1)).toSet == Set("a", "b"))
  }

  test("full write supersedes all prior files (compaction semantics)") {
    val st = fresh()
    st.appendDelta(Seq((0, "a")).toDF("host_bucket", "v"), "t", 0,
      bucketCol = Some("host_bucket"))
    st.appendDelta(Seq((0, "b")).toDF("host_bucket", "v"), "t", 1,
      bucketCol = Some("host_bucket"))
    st.write(Seq((0, "merged")).toDF("host_bucket", "v"), "t", 1, Some("host_bucket"))
    assert(st.read(spark, "t").collect().map(_.getString(1)).toSeq == Seq("merged"))
  }

  test("writeFused: replace and append parts, a first write pins, every form refuses drift") {
    import SnapshotStore.FusedPart
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val st = fresh()
    def rows(t: String) = st.read(spark, t).collect().map(r => (r.getInt(0), r.getString(1))).toSet
    // a fused FIRST write pins both tables' schemas (no pre-pin needed)
    st.writeFused(Seq(
      FusedPart("a", Seq((1, "x")).toDF("k", "v"), append = false),
      FusedPart("b", Seq((2, "y")).toDF("k", "v"), append = true)), wave = 0)
    assert(st.tableSchema("a").fieldNames.toSeq == Seq("k", "v"))
    assert(st.tableSchema("b").fieldNames.toSeq == Seq("k", "v"))
    assert(st.currentSnapshot("a").contains(0) && st.currentSnapshot("b").contains(0))
    st.writeFused(Seq(
      FusedPart("a", Seq((3, "z")).toDF("k", "v"), append = false),
      FusedPart("b", Seq((4, "w")).toDF("k", "v"), append = true)), wave = 1)
    // replace part: the prior files are dropped; append part: carried
    assert(rows("a") == Set((3, "z")))
    assert(rows("b") == Set((2, "y"), (4, "w")))
    val b0 = st.snapshotFiles("b", 0).values.flatten.toSet
    val b1 = st.snapshotFiles("b", 1).values.flatten.toSet
    assert(b0.subsetOf(b1) && b1.size == b0.size + 1)
    assert(st.snapshotFiles("a", 0).values.flatten.toSet
      .intersect(st.snapshotFiles("a", 1).values.flatten.toSet).isEmpty)
    // a drifted schema (v: string → long) is refused by every write form,
    // and a refused write commits no snapshot
    val drift = Seq((5, 6L)).toDF("k", "v")
    val driftSchema = StructType(Seq(StructField("k", IntegerType), StructField("v", LongType)))
    def refused(write: => Any): Unit = {
      val e = intercept[IllegalArgumentException](write)
      assert(e.getMessage.contains("schema drift"), e.getMessage)
    }
    refused(st.write(drift, "a", 2))
    refused(st.appendDelta(drift, "a", 2))
    refused(st.writeEmpty(driftSchema, "a", 2))
    refused(st.writeFused(Seq(FusedPart("b", drift, append = true)), wave = 2))
    assert(st.currentSnapshot("a").contains(1) && st.currentSnapshot("b").contains(1))
    assert(rows("a") == Set((3, "z")))
    // the same shape (nullability aside) still passes every form
    st.writeEmpty(StructType(Seq(StructField("k", IntegerType, nullable = false),
      StructField("v", StringType))), "a", 2)
    assert(st.read(spark, "a").count() == 0)
  }

  test("appendedSinceFullWrite: appends mark snapshots until a full write") {
    import SnapshotStore.FusedPart
    import java.nio.file.Paths
    val st = fresh()
    def rows(vs: (Int, String)*) = vs.toDF("host_bucket", "v")
    st.writeEmpty(rows().schema, "e", -1)
    st.write(rows((0, "a")), "t", -1)
    assert(!st.appendedSinceFullWrite("e") && !st.appendedSinceFullWrite("t"))
    val full = st.currentSnapshot("t").get
    val appended = st.appendDelta(rows((0, "b")), "t", 0, bucketCol = Some("host_bucket"))
    assert(st.appendedSinceFullWrite("t"))
    // an append part of a fused write keeps the mark; a full write clears it
    st.writeFused(Seq(FusedPart("t", rows((1, "c")), append = true)), wave = 1)
    assert(st.appendedSinceFullWrite("t"))
    st.write(rows((0, "m")), "t", 2)
    assert(!st.appendedSinceFullWrite("t"))
    // rollback restores each snapshot's own answer
    st.rollbackTo("t", appended)
    assert(st.appendedSinceFullWrite("t"))
    st.rollbackTo("t", full)
    assert(!st.appendedSinceFullWrite("t"))
    // a manifest written before the field existed reads as appended
    val mp = Paths.get(st.root, "t", "manifest.json")
    Files.writeString(mp, Files.readString(mp).replaceAll(",\"appended\":(true|false)", ""))
    assert(!Files.readString(mp).contains("appended"))
    assert(st.appendedSinceFullWrite("t"))
    // answering launches no Spark job
    assert(SparkJobs.of(spark)(Seq("e", "t").foreach(st.appendedSinceFullWrite)) == 0)
  }
}
