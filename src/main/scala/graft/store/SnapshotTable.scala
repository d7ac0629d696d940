package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StructType}

/** Minimal Iceberg-style snapshot table (SURVEY.md §4.6): immutable parquet
  * data files + versioned JSON manifests + one atomically-swapped `current`
  * pointer. No Iceberg runtime jar exists in this sandbox; this layer keeps
  * the SAME contract surface (atomic commit, time travel, per-file column
  * stats for scan pruning) behind a narrow API, so a real
  * iceberg-spark-runtime catalog can replace it without touching callers
  * (`commit` ↔ append/overwrite, `read(v)` ↔ VERSION AS OF,
  * `readPruned` ↔ Iceberg metadata pruning).
  *
  * Layout:
  *   root/name/data/v{N}/part-*.parquet     (immutable per version)
  *   root/name/metadata/v{N}.json           {version, parent, schema, files:[{path, rows, stats}]}
  *   root/name/metadata/current             (atomic pointer: the version number)
  *
  * Commit protocol (single-writer): write data dir → write vN.json →
  * atomic move of a temp pointer onto `current`. A crash before the final
  * move leaves the table at vN-1 with only unreferenced orphan files — a
  * re-run overwrites them; readers never see a torn state.
  *
  * A table with a `bucketKey` commits each version hash-bucketed by it,
  * into as many buckets as the session's shuffle-partition count at commit
  * time (one write task and one file per bucket), and records that count
  * in the version's manifest; `read` registers each version with its own
  * manifest's count.
  */
class SnapshotTable(spark: SparkSession, root: String, val name: String,
                    val bucketKey: Option[String] = None) {
  private val mapper = new ObjectMapper()
  private val tableDir = Paths.get(root, name)
  private val metaDir = tableDir.resolve("metadata")
  private val pointer = metaDir.resolve("current")

  /** Catalog identifier of a version's bucketed external table —
    * deterministic from (path, version) so any session, including a
    * resumed process whose in-memory catalog is empty, re-derives the same
    * name and re-registers idempotently. */
  private def tableIdent(v: Long): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(tableDir.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(10)
    s"graft_${h}_${name}_v$v"
  }

  def currentVersion: Option[Long] =
    if (Files.exists(pointer)) Some(Files.readString(pointer).trim.toLong) else None

  private def manifestPath(v: Long): Path = metaDir.resolve(s"v$v.json")

  /** Columns that get per-file (min,max) stats in the manifest. */
  private def statCols(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if f.dataType == LongType || f.dataType == IntegerType
        || f.dataType == DoubleType => f.name
    }.toSeq

  /** Append a new version containing exactly `df` (snapshot-replace
    * semantics: each version is the full table — callers union deltas
    * themselves, which is how the crawl state tables work). Returns the
    * committed version. */
  def commit(df: DataFrame): Long = {
    val v = currentVersion.map(_ + 1).getOrElse(0L)
    val dataDir = tableDir.resolve(s"data/v$v")
    // The session's shuffle width: the probe side of a join against this
    // version shuffles to the bucket count, so a count matched to the
    // session's cores never fans a small probe out wider than the box.
    val nBuckets = spark.sessionState.conf.numShufflePartitions
    bucketKey match {
      case Some(k) =>
        // Hash-bucketed storage (the Iceberg bucket-transform stand-in):
        // the scan of a committed version reports HashPartitioning(k,
        // nBuckets), so per-round anti-joins against this table need NO
        // exchange on this (the big) side — only the small probe side
        // shuffles, to the bucket count. repartition aligns write tasks
        // with buckets (same murmur3 hash) → one file per bucket, and
        // sortBy lets SMJ skip the big-side sort too.
        df.repartition(nBuckets, df.col(k))
          .write.mode("overwrite")
          .bucketBy(nBuckets, k).sortBy(k)
          .option("path", dataDir.toString)
          .saveAsTable(tableIdent(v))
      case None =>
        df.write.mode("overwrite").parquet(dataDir.toString)
    }

    val files = Using.resource(Files.list(dataDir))(_.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString))

    // Per-file stats straight from the parquet FOOTERS — no data re-read
    // at commit time (at 100 TB a stats pass that rescans data would double
    // the write cost; footers are O(KB) per file).
    val sc = statCols(df.schema).toSet
    val manifest: ObjectNode = mapper.createObjectNode()
    manifest.put("version", v)
    manifest.put("parent", currentVersion.getOrElse(-1L))
    manifest.put("schema", df.schema.json)
    bucketKey.foreach { k =>
      manifest.put("bucketKey", k); manifest.put("nBuckets", nBuckets)
    }
    val arr: ArrayNode = manifest.putArray("files")
    val hconf = spark.sessionState.newHadoopConf()
    files.foreach { f =>
      val node = arr.addObject()
      node.put("path", f.toString)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), hconf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        node.put("rows", blocks.map(_.getRowCount).sum)
        val stats = node.putObject("stats")
        val agg = scala.collection.mutable.Map[String, (Double, Double)]()
        blocks.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            val cname = c.getPath.toDotString
            if (sc.contains(cname)) {
              val s = c.getStatistics
              if (s != null && s.hasNonNullValue) {
                val (lo, hi) = (numeric(s.genericGetMin), numeric(s.genericGetMax))
                val cur = agg.getOrElse(cname, (Double.MaxValue, Double.MinValue))
                agg(cname) = (math.min(cur._1, lo), math.max(cur._2, hi))
              }
            }
          }
        }
        agg.foreach { case (cname, (lo, hi)) =>
          val o = stats.putObject(cname)
          // widen by one ulp: doubles can't represent 64-bit extremes
          // exactly, and pruning must stay strictly conservative
          o.put("min", fmt(Math.nextDown(lo))); o.put("max", fmt(Math.nextUp(hi)))
        }
      } finally reader.close()
    }

    Files.createDirectories(metaDir)
    Files.writeString(manifestPath(v), mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(manifest))
    val tmp = metaDir.resolve(s".current.tmp.$v")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    v
  }

  private def manifest(v: Long): JsonNode = mapper.readTree(Files.readString(manifestPath(v)))

  /** The version a read addresses: `version` itself, or the current one
    * for a negative `version`. */
  private def resolve(version: Long): Long =
    if (version >= 0) version else currentVersion.getOrElse(
      throw new IllegalStateException(s"table $name has no committed version"))

  private def schemaOf(m: JsonNode): StructType =
    DataType.fromJson(m.get("schema").asText()).asInstanceOf[StructType]

  private def filesOf(m: JsonNode): Seq[JsonNode] =
    m.get("files").elements().asScala.toSeq

  /** Read a committed version (default: current). Time travel = pass any
    * older version.
    *
    * The bucket layout comes from the MANIFEST of the version being read,
    * never from this handle's configuration: a version written before
    * bucketing existed (plain parquet, no bucket suffix in the file names)
    * must read as plain parquet, and a version committed under a different
    * shuffle-partition count must register with ITS bucket count — a wrong
    * CLUSTERED BY registration would report false HashPartitioning to the
    * planner and silently break the storage-partitioned anti-joins
    * (already-seen urls slipping through dedup, with no error anywhere). */
  def read(version: Long = -1L): DataFrame = {
    val v = resolve(version)
    val m = manifest(v)
    val schema = schemaOf(m)
    val paths = filesOf(m).map(_.get("path").asText())
    if (paths.isEmpty) emptyDf(schema)
    else Option(m.get("bucketKey")).map(_.asText()) match {
      case Some(k) =>
        val n = m.get("nBuckets").asInt()
        // Bucket-aware read goes through the catalog (bucketing metadata
        // only attaches to catalog tables in Spark); registration is
        // idempotent and re-created on resume in a fresh session. The
        // identifier encodes the version, and a version's layout is
        // immutable, so manifest-derived registrations never conflict.
        val t = tableIdent(v)
        spark.sql(
          s"""CREATE TABLE IF NOT EXISTS $t (${schema.toDDL}) USING PARQUET
             |CLUSTERED BY ($k) SORTED BY ($k) INTO $n BUCKETS
             |LOCATION '${tableDir.resolve(s"data/v$v")}'""".stripMargin)
        spark.table(t)
      case None => spark.read.schema(schema).parquet(paths: _*)
    }
  }

  /** Expire every version strictly below `minKeep`: drop its catalog
    * registration (bucketed versions), delete its data directory and
    * manifest — the Iceberg `expireSnapshots` analog. Without expiry a
    * snapshot-per-round state table accumulates a full copy per round
    * (fatal at 10^10 scale: storage O(rounds × table size)). Also sweeps
    * ORPHAN data directories below `minKeep` (a killed commit's
    * unreferenced files). Time travel to expired versions fails with a
    * missing-manifest error afterwards — by design. The current version
    * is never expirable. Returns the versions removed. */
  def expire(minKeep: Long): Seq[Long] = {
    val cur = currentVersion.getOrElse(return Seq.empty)
    require(minKeep <= cur, s"minKeep=$minKeep would expire current version $cur")
    val dataRoot = tableDir.resolve("data")
    val removed = Seq.newBuilder[Long]
    var v = 0L
    while (v < minKeep) {
      val mp = manifestPath(v)
      val dd = dataRoot.resolve(s"v$v")
      if (Files.exists(mp) || Files.exists(dd)) {
        if (Files.exists(mp) && manifest(v).get("bucketKey") != null)
          spark.sql(s"DROP TABLE IF EXISTS ${tableIdent(v)}")
        if (Files.exists(dd))
          Using.resource(Files.walk(dd))(_.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.deleteIfExists(p)))
        Files.deleteIfExists(mp)
        removed += v
      }
      v += 1
    }
    removed.result()
  }

  /** Manifest-level file pruning: read only files whose [min,max] range of
    * `column` intersects [lo, hi] (the poor-man's Iceberg metadata prune —
    * §4.5). */
  def readPruned(column: String, lo: Long, hi: Long, version: Long = -1L): DataFrame = {
    val m = manifest(resolve(version))
    val schema = schemaOf(m)
    val paths = prunedFiles(m, column, lo, hi).map(_.get("path").asText())
    if (paths.isEmpty) emptyDf(schema)
    else spark.read.schema(schema).parquet(paths: _*).filter(col(column).between(lo, hi))
  }

  /** How many data files the pruned read would touch (plan-shape tests). */
  def prunedFileCount(column: String, lo: Long, hi: Long): Int =
    prunedFiles(manifest(resolve(-1L)), column, lo, hi).size

  /** The manifest's files whose `column` stats intersect [lo, hi]; a file
    * without stats for it can't be pruned. */
  private def prunedFiles(m: JsonNode, column: String, lo: Long, hi: Long): Seq[JsonNode] =
    filesOf(m).filter { f =>
      val s = f.get("stats")
      s == null || s.get(column) == null || {
        val cmin = s.get(column).get("min").asText().toDouble
        val cmax = s.get(column).get("max").asText().toDouble
        cmax >= lo && cmin <= hi
      }
    }

  private def numeric(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue()
    case other               => other.toString.toDouble
  }
  // Longs round-trip exactly through double up to 2^53 — url hashes exceed
  // that, so stats comparisons are conservative by one ulp at the edges
  // (pruning stays CORRECT: a file is only skipped when strictly disjoint).
  private def fmt(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 9.007199254740992e15) d.toLong.toString
    else d.toString

  private def emptyDf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
}
