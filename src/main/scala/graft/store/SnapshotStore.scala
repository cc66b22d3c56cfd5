package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Iceberg-style snapshot table layer over parquet (no Iceberg runtime
  * in this sandbox — SURVEY.md §7). Each snapshot is a MANIFEST of data
  * files grouped by bucket, not a physical rewrite:
  *
  *   root/<table>/snap-%05d/[__pb=<bucket>/]part-*.parquet  (immutable)
  *   root/<table>/manifest.json   (atomic-rename commit point)
  *   root/<table>/_schema.json    (DDL for empty/explicit-file reads)
  *   root/_commits/wave-%05d.json (cross-table wave manifest)
  *
  * Every write form ([[write]], [[appendDelta]], [[writeEmpty]] and each
  * part of [[writeFused]]) follows one schema rule (the first write pins
  * the table's schema, later writes must match it) and ends in one
  * snapshot commit (next id, prior files when appending, manifest
  * rename) — the store's only write boundaries.
  *
  * Each snapshot also records whether the table was appended to since
  * its last full write ([[write]], [[writeEmpty]], a replace part): the
  * fact Iceberg keeps as the snapshot summary's `operation`
  * (append / overwrite). [[appendedSinceFullWrite]] answers it from the
  * manifest alone, so a reader can plan from it without a Spark job.
  *
  * Delta commits: [[appendDelta]] writes only the wave's new rows and
  * the new manifest references the previous snapshot's files for
  * untouched buckets — per-wave I/O is O(delta), not O(table). Reads
  * assemble the current file list and read with the pinned schema +
  * `recursiveFileLookup` (partition-dir inference off), so
  * [[readBuckets]] prunes to exactly the requested buckets' files —
  * the assertable analogue of Iceberg partition pruning. Atomic rename
  * after temp-write is the same commit protocol the reference uses for
  * artifacts (src/pipeline/io_utils.py:72-185); at cluster scale the
  * rename is an object-store manifest swap, and the data files are
  * immutable appends, exactly like Iceberg snapshots. */
object SnapshotStore {
  /** One logical table's slice of a fused multi-table write
    * ([[SnapshotStore.writeFused]]): `append` = delta-commit semantics
    * (prior files carried by reference), else full-snapshot rewrite. */
  final case class FusedPart(table: String, df: DataFrame, append: Boolean,
                             lineage: String = "")
}

final class SnapshotStore(val root: String) {
  import SnapshotStore.FusedPart

  /** bucket → data files (table-relative paths); -1 = unbucketed. */
  type FileMap = Map[Int, Seq[String]]

  private final case class Snap(id: Int, wave: Int, lineage: String, files: FileMap,
                                appended: Boolean)
  private final case class Manifest(current: Int, snaps: Seq[Snap])

  private def tableDir(table: String): Path = Paths.get(root, table)
  private def manifestPath(table: String): Path = tableDir(table).resolve("manifest.json")
  private def schemaPath(table: String): Path = tableDir(table).resolve("_schema.json")

  private def atomicWrite(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.getParent.resolve(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  // ---------------------------------------------------------- manifest io

  private def renderManifest(m: Manifest): String = {
    val snaps = JArray(m.snaps.map { s =>
      JObject(
        "id" -> JInt(s.id), "wave" -> JInt(s.wave),
        "lineage" -> JString(s.lineage), "appended" -> JBool(s.appended),
        "files" -> JObject(s.files.toList.sortBy(_._1).map { case (b, fs) =>
          b.toString -> JArray(fs.map(JString(_)).toList)
        }))
    }.toList)
    JsonMethods.compact(JsonMethods.render(
      JObject("current" -> JInt(m.current), "snapshots" -> snaps)))
  }

  private def parseManifest(table: String): Option[Manifest] = {
    val p = manifestPath(table)
    if (!Files.exists(p)) return None
    val j = JsonMethods.parse(Files.readString(p))
    val cur = (j \ "current") match { case JInt(n) => n.toInt; case _ => -1 }
    val snaps = (j \ "snapshots") match {
      case JArray(xs) => xs.map { s =>
        val id = (s \ "id") match { case JInt(n) => n.toInt; case _ => -1 }
        val wave = (s \ "wave") match { case JInt(n) => n.toInt; case _ => -1 }
        val lin = (s \ "lineage") match { case JString(v) => v; case _ => "" }
        // a manifest written before the field existed: assume appends
        val appended = (s \ "appended") match { case JBool(b) => b; case _ => true }
        val files: FileMap = (s \ "files") match {
          case JObject(fields) => fields.map { case (b, v) =>
            b.toInt -> (v match {
              case JArray(fs) => fs.collect { case JString(f) => f }
              case _ => Seq.empty[String]
            })
          }.toMap
          case _ => Map.empty
        }
        Snap(id, wave, lin, files, appended)
      }
      case _ => Seq.empty
    }
    Some(Manifest(cur, snaps))
  }

  private def manifest(table: String): Manifest =
    parseManifest(table).getOrElse(Manifest(-1, Seq.empty))

  private def commitManifest(table: String, m: Manifest): Unit =
    atomicWrite(manifestPath(table), renderManifest(m))

  private def snapOf(table: String, id: Int): Snap =
    manifest(table).snaps.find(_.id == id)
      .getOrElse(sys.error(s"no snapshot $id for table $table"))

  /** The current snapshot, from one manifest parse. */
  private def current(table: String): Snap = {
    val m = manifest(table)
    m.snaps.find(_.id == m.current).getOrElse(sys.error(s"no snapshot for table $table"))
  }

  /** Highest index `i` among `dir`'s entries named `<prefix><i><suffix>`, or -1. */
  private def lastIndex(dir: Path, prefix: String, suffix: String = ""): Int =
    if (!Files.exists(dir)) -1
    else Using.resource(Files.list(dir)) { stream =>
      stream.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith(prefix) && n.endsWith(suffix) =>
          n.stripPrefix(prefix).stripSuffix(suffix).toInt }
        .foldLeft(-1)(math.max)
    }

  // ------------------------------------------------------------- writes

  /** The one schema rule of every write form: the first write of a table
    * pins its schema, and every later write must match it (name + type,
    * nullability-insensitive). Reads apply the pinned schema, so silent
    * drift would silently drop or null columns. */
  private def pinSchema(table: String, schema: StructType): Unit =
    if (!Files.exists(schemaPath(table))) atomicWrite(schemaPath(table), schema.json)
    else {
      def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
      val pinned = tableSchema(table)
      require(shape(schema) == shape(pinned),
        s"schema drift for table '$table': writing ${schema.simpleString}, " +
          s"pinned ${pinned.simpleString}")
    }

  /** One past the highest snapshot id in `m`: the ids (and data dirs) of
    * rolled-back snapshots are reused. */
  private def nextId(m: Manifest): Int = m.snaps.map(_.id).foldLeft(-1)(math.max) + 1

  /** The one snapshot commit: take the next id, carry the current
    * snapshot's files when `append` (untouched buckets by reference),
    * add `written` per bucket, and rename the manifest into place. An
    * append that adds files marks the snapshot appended, and the mark
    * carries over appends until the next full write clears it. */
  private def commitSnap(table: String, wave: Int, lineage: String,
                         written: FileMap, append: Boolean): Int = {
    val m = manifest(table)
    val id = nextId(m)
    val cur = if (append) m.snaps.find(_.id == m.current) else None
    val prior: FileMap = cur.fold(Map.empty: FileMap)(_.files)
    val files = prior ++ written.map { case (b, fs) => b -> (prior.getOrElse(b, Seq.empty) ++ fs) }
    val appended = append && (written.values.exists(_.nonEmpty) || cur.exists(_.appended))
    commitManifest(table, Manifest(id, m.snaps :+ Snap(id, wave, lineage, files, appended)))
    id
  }

  /** The parquet files under `dir`, grouped by `__pb=<bucket>` subdir (or
    * -1 when unbucketed), as paths relative to `table`'s dir. */
  private def parquetUnder(dir: Path, table: String): FileMap = {
    if (!Files.exists(dir)) return Map.empty
    val td = tableDir(table)
    Using.resource(Files.walk(dir)) { stream =>
      stream.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .toSeq
        .groupBy { p =>
          val rel = dir.relativize(p).toString
          if (rel.startsWith("__pb=")) rel.substring(5, rel.indexOf('/')).toInt else -1
        }
        .map { case (b, ps) => b -> ps.map(p => td.relativize(p).toString).sorted }
    }
  }

  /** Write `df` into the data dir of `table`'s next snapshot (a table has
    * one writer at a time, so [[commitSnap]] then takes that same id). */
  private def physicalWrite(df: DataFrame, table: String, bucketCol: Option[String]): FileMap = {
    pinSchema(table, df.schema)
    val dir = tableDir(table).resolve(f"snap-${nextId(manifest(table))}%05d")
    bucketCol match {
      case Some(c) =>
        // duplicate the bucket column into the partition dir so the data
        // files keep it (explicit-file reads see no partition dirs)
        df.withColumn("__pb", col(c))
          .write.mode(SaveMode.Overwrite).partitionBy("__pb")
          .parquet(dir.toString)
      case None =>
        df.write.mode(SaveMode.Overwrite).parquet(dir.toString)
    }
    parquetUnder(dir, table)
  }

  /** Full snapshot: the new manifest references only this write's files
    * (whole-table rewrite — host-cardinality state tables, compaction),
    * grouped per bucket when `bucketCol` is set. */
  def write(df: DataFrame, table: String, wave: Int,
            bucketCol: Option[String] = None, lineage: String = ""): Int =
    commitSnap(table, wave, lineage, physicalWrite(df, table, bucketCol), append = false)

  /** Register an EMPTY snapshot without launching a Spark job: a schema
    * check (or pin) plus a file-less manifest. Initializing the
    * append-only tables is pure driver-side metadata — an empty
    * DataFrame write would still pay a full job launch + commit
    * protocol per table. */
  def writeEmpty(schema: StructType, table: String, wave: Int,
                 lineage: String = ""): Int = {
    pinSchema(table, schema)
    commitSnap(table, wave, lineage, Map.empty, append = false)
  }

  /** Delta commit: append this write's files to the previous snapshot's
    * per-bucket lists; untouched buckets are carried by reference. */
  def appendDelta(df: DataFrame, table: String, wave: Int,
                  bucketCol: Option[String] = None, lineage: String = ""): Int =
    commitSnap(table, wave, lineage, physicalWrite(df, table, bucketCol), append = true)

  /** Write several SMALL (host-or-less cardinality) tables' wave output
    * in ONE Spark job: each part's rows are wrapped in a per-table
    * struct column, tagged, unioned, and written once partitioned by
    * the table tag — then each table commits just its own partition's
    * files (as `../_fused/...` relative paths). Per-wave driver cost
    * collapses from one job launch per state table to one total; reads
    * stay per-table and column-pruned (a fused file's other-table
    * struct columns are all-null and never deserialized, and the
    * `__tbl` partition split means each listed file holds only its own
    * table's rows). Each part follows the same schema rule and snapshot
    * commit as every other write. On crash rollback the orphaned fused
    * files are simply no longer referenced by any manifest (data files
    * are immutable; the manifest is the source of truth, as in
    * Iceberg). */
  def writeFused(parts: Seq[FusedPart], wave: Int): Unit = {
    import org.apache.spark.sql.functions.{lit, struct}
    require(parts.nonEmpty, "writeFused needs at least one part")
    parts.foreach(p => pinSchema(p.table, p.df.schema))
    val branches = parts.map { p =>
      val cols = parts.map { q =>
        if (q.table == p.table) struct(p.df.columns.map(col): _*).as(s"__c_${q.table}")
        else lit(null).cast(StructType(q.df.schema.fields)).as(s"__c_${q.table}")
      }
      p.df.select(lit(p.table).as("__tbl") +: cols: _*)
    }
    val fusedRoot = Paths.get(root, "_fused")
    val dir = fusedRoot.resolve(f"snap-${lastIndex(fusedRoot, "snap-") + 1}%05d")
    branches.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).partitionBy("__tbl").parquet(dir.toString)
    parts.foreach { p =>
      commitSnap(p.table, wave, p.lineage,
        parquetUnder(dir.resolve(s"__tbl=${p.table}"), p.table), p.append)
    }
  }

  // -------------------------------------------------------------- reads

  def tableSchema(table: String): StructType =
    DataType.fromJson(Files.readString(schemaPath(table))).asInstanceOf[StructType]

  private def readFiles(spark: SparkSession, table: String, files: Seq[String]): DataFrame = {
    val schema = tableSchema(table)
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val td = tableDir(table)
    // fused files (../_fused/...) hold this table's rows wrapped in a
    // __c_<table> struct column; reading with just that column's schema
    // prunes every other table's struct at the parquet layer
    val (fusedF, plainF) = files.partition(_.contains("_fused/"))
    val reads = Seq(
      Option.when(plainF.nonEmpty)(
        spark.read.schema(schema)
          .option("recursiveFileLookup", "true") // no partition-dir inference
          .parquet(plainF.map(f => td.resolve(f).toString): _*)),
      Option.when(fusedF.nonEmpty)(
        spark.read.schema(StructType(Seq(
            org.apache.spark.sql.types.StructField(s"__c_$table", schema))))
          .option("recursiveFileLookup", "true")
          .parquet(fusedF.map(f => td.resolve(f).toString): _*)
          .select(schema.fieldNames.map(n => col(s"__c_$table.$n")): _*))
    ).flatten
    reads.reduce(_ unionByName _)
  }

  /** A snapshot's files grouped by bucket, as absolute paths. */
  private def absolute(table: String, s: Snap): Map[Int, Seq[String]] = {
    val td = tableDir(table)
    s.files.map { case (b, fs) => b -> fs.map(f => td.resolve(f).toString) }
  }

  def currentSnapshot(table: String): Option[Int] =
    parseManifest(table).map(_.current).filter(_ >= 0)

  /** All data files of the current snapshot, grouped by bucket
    * (absolute paths — PlanSpec pruning assertions read this). */
  def currentFiles(table: String): Map[Int, Seq[String]] = absolute(table, current(table))

  def read(spark: SparkSession, table: String): DataFrame =
    readFiles(spark, table, current(table).files.values.flatten.toSeq)

  /** Time-travel read of a pinned snapshot id (its full file manifest). */
  def readSnapshot(spark: SparkSession, table: String, id: Int): DataFrame =
    readFiles(spark, table, snapOf(table, id).files.values.flatten.toSeq)

  /** Data files of a pinned snapshot, grouped by bucket (absolute
    * paths) — delta-size assertions diff consecutive pins. */
  def snapshotFiles(table: String, id: Int): Map[Int, Seq[String]] =
    absolute(table, snapOf(table, id))

  /** Bucket-pruned read: only the files of the requested buckets. */
  def readBuckets(spark: SparkSession, table: String, buckets: Seq[Int]): DataFrame = {
    val files = current(table).files
    readFiles(spark, table, buckets.distinct.flatMap(b => files.getOrElse(b, Seq.empty)))
  }

  /** Log view — with manifest-carried deltas the current snapshot IS the
    * full log for append-only tables; kept for call-site clarity. */
  def readAll(spark: SparkSession, table: String): DataFrame = read(spark, table)

  def exists(table: String): Boolean = currentSnapshot(table).isDefined

  /** Whether an append added files to `table` since its last full write,
    * read from the manifest alone (no Spark job). A snapshot of a manifest
    * written before the store recorded this reads as appended. */
  def appendedSinceFullWrite(table: String): Boolean = current(table).appended

  // ---- cross-table wave commits (checkpoint/resume) ----

  private def commitsDir: Path = Paths.get(root, "_commits")
  private def commitPath(wave: Int): Path = commitsDir.resolve(f"wave-$wave%05d.json")

  /** Atomically record that `wave` committed with the given table →
    * snapshot-id pins plus metric counters. */
  def commitWave(wave: Int, pins: Map[String, Int], metrics: Map[String, Long]): Unit = {
    val j = JObject(
      "wave" -> JInt(wave),
      "pins" -> JObject(pins.toList.sortBy(_._1).map { case (t, i) => t -> JInt(i) }),
      "metrics" -> JObject(metrics.toList.sortBy(_._1).map { case (k, v) => k -> JLong(v) }))
    atomicWrite(commitPath(wave), JsonMethods.compact(JsonMethods.render(j)))
  }

  /** Highest wave with a complete commit manifest, or -1. */
  def lastCommittedWave(): Int = lastIndex(commitsDir, "wave-", ".json")

  /** Snapshot pins recorded at a wave commit. */
  def wavePins(wave: Int): Map[String, Int] = {
    val j = JsonMethods.parse(Files.readString(commitPath(wave)))
    (j \ "pins") match {
      case JObject(fields) => fields.collect { case (t, JInt(i)) => t -> i.toInt }.toMap
      case _ => Map.empty
    }
  }

  /** Crash recovery: truncate `table`'s manifest to snapshot `id`,
    * discarding (and physically deleting) any snapshots written after it
    * — an interrupted wave leaves tables ahead of the last commit; the
    * next run rolls each back to its pinned id before resuming. */
  def rollbackTo(table: String, id: Int): Unit = {
    val m = parseManifest(table).getOrElse(return)
    if (m.current == id && m.snaps.forall(_.id <= id)) return
    val (keep, drop) = m.snaps.partition(_.id <= id)
    require(keep.exists(_.id == id), s"cannot roll $table back to unknown snapshot $id")
    commitManifest(table, Manifest(id, keep))
    drop.foreach { s =>
      val dir = tableDir(table).resolve(f"snap-${s.id}%05d")
      if (Files.exists(dir)) {
        Using.resource(Files.walk(dir)) { stream =>
          stream.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        }
      }
    }
  }

  /** Roll every pinned table back to the last committed wave's pins.
    * Returns that wave (or -1 when nothing was ever committed). */
  def recoverToLastCommit(tables: Seq[String]): Int = {
    val w = lastCommittedWave()
    if (w < 0) return -1
    val pins = wavePins(w)
    tables.foreach { t =>
      pins.get(t).foreach(id => rollbackTo(t, id))
    }
    w
  }
}
