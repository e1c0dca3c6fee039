package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, Path}

/** Per-stage checkpointing with lineage + row/byte metrics — the engine's
  * resume mechanism (north rule: "resumable from checkpoint with
  * per-partition lineage + metrics").
  *
  * Spark-native analog of the reference's two idempotence devices:
  * file-level cache-hit skip (data_downloader.py:197-201, 415) and the
  * work-queue re-enqueue (reference _parquet_multiprocessing.py:86-94).
  * Each stage writes its output parquet once; a `_MANIFEST.json` sidecar
  * records per-partition row/byte counts and the input lineage key. A
  * re-run with the same stage key skips the whole stage (task-level retry
  * within a run is Spark's own `spark.task.maxFailures`). At 10^12-doc
  * scale, stages are further split by cell-prefix so a resume skips
  * completed prefixes — the `partitionKey` column drives that.
  */
object Checkpoint {

  /** Minimal JSON string escaping for manifest fields. */
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Schema sidecar: read-back of an all-empty stage (a partitioned write
    * of zero rows emits no data files) needs the schema supplied, or
    * `spark.read.parquet` throws UNABLE_TO_INFER_SCHEMA and the stage can
    * never complete — the S9 empty-stability contract extends to resume. */
  private def writeSchema(outDir: Path, ddl: String): Unit =
    Files.writeString(outDir.resolve("_SCHEMA.ddl"), ddl)

  private def readWithSchema(spark: SparkSession, outDir: Path): DataFrame = {
    val sf = outDir.resolve("_SCHEMA.ddl")
    if (Files.exists(sf))
      spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(Files.readString(sf)))
        .parquet(outDir.toString)
    else spark.read.parquet(outDir.toString)
  }

  /** Run `build` (or skip it if the stage is already complete) and return its output.
    *
    * @param key     deterministic stage key (content-hash of inputs/params —
    *                cf. the reference's canonical geometry+filter hash path,
    *                data_downloader.py:925-963)
    * @param baseDir checkpoint root
    */
  def stage(spark: SparkSession, baseDir: String, key: String)
           (build: => DataFrame): DataFrame = {
    val outDir = Paths.get(baseDir, key)
    val manifest = outDir.resolve("_MANIFEST.json")
    if (Files.exists(manifest)) {
      // resume: skip the stage entirely
      readWithSchema(spark, outDir)
    } else {
      val df = build
      Files.createDirectories(outDir.getParent)
      df.write.mode("overwrite").parquet(outDir.toString)
      writeSchema(outDir, df.schema.toDDL)
      val out = readWithSchema(spark, outDir)
      // per-FILE lineage metrics: rows per materialized file — stable
      // across re-reads (spark_partition_id of a read-back depends on the
      // session's split planning, so it never reproduces)
      val metrics = out
        .groupBy(input_file_name().as("_f"))
        .agg(count(lit(1)).as("rows"))
        .collect()
        .map(r => s"""{"file":"${esc(r.getString(0).split('/').last)}","rows":${r.getLong(1)}}""")
        .sorted
      val fileBytes = {
        val s = Files.list(outDir) // close: the stream holds a directory fd
        try s.toArray.map(_.asInstanceOf[Path])
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(Files.size).sum
        finally s.close()
      }
      val json =
        s"""{"key":"${esc(key)}","bytes":$fileBytes,"partitions":[${metrics.mkString(",")}],"complete":true}"""
      Files.writeString(manifest, json)
      out
    }
  }

  def isComplete(baseDir: String, key: String): Boolean =
    Files.exists(Paths.get(baseDir, key, "_MANIFEST.json"))

  /** Partition-granular resume — the 10^12-scale form (north rule:
    * "resumable from checkpoint with per-partition lineage + metrics").
    *
    * The stage's output is hive-partitioned by `partitionCol` (e.g. the
    * coarse cell prefix). A sidecar `_PARTS.json` records each completed
    * partition value with its row count. A re-run:
    *   1. reads the manifest, 2. restricts the build to the MISSING
    *   partition values only — the predicate prunes all the way up the
    *   lineage when the source shares the partitioning — 3. appends them,
    *   4. merges the manifest.
    * Partition values must be stringable (long cell prefixes, dates…). */
  def stageByPartition(spark: SparkSession, baseDir: String, key: String,
                       partitionCol: String, allPartitions: Seq[Long])
                      (build: Seq[Long] => DataFrame): DataFrame = {
    val outDir = Paths.get(baseDir, key)
    val partsFile = outDir.resolve("_PARTS.json")
    val done: Map[Long, Long] =
      if (Files.exists(partsFile))
        Files.readString(partsFile).split("\n").filter(_.nonEmpty).map { line =>
          val Array(p, n) = line.split(","); p.toLong -> n.toLong
        }.toMap
      else Map.empty
    val missing = allPartitions.filterNot(done.contains)
    if (missing.nonEmpty) {
      Files.createDirectories(outDir)
      val fresh = build(missing)
      writeSchema(outDir, fresh.schema.toDDL)
      // Dynamic partition overwrite, NOT append: a crash after a partial
      // write but before the manifest update leaves orphan files in the
      // still-missing partitions; the resume rebuilds those partitions and
      // REPLACES their directories (append would duplicate the rows —
      // exactly the crash-resume case this mechanism exists for).
      fresh.write
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy(partitionCol).parquet(outDir.toString)
      // lineage metrics for the partitions just completed
      // hive partition dirs read back with inferred (int) type — normalize
      val counts = readWithSchema(spark, outDir)
        .where(col(partitionCol).cast("long").isin(missing.map(Long.box): _*))
        .groupBy(col(partitionCol).cast("long").as("_p")).agg(count(lit(1)).as("rows"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val merged = done ++ missing.map(p => p -> counts.getOrElse(p, 0L))
      Files.writeString(partsFile,
        merged.toSeq.sortBy(_._1).map { case (p, n) => s"$p,$n" }.mkString("\n"))
    }
    readWithSchema(spark, outDir)
  }
}
