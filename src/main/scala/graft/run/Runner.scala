package graft.run

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.compile.CheckCompiler
import graft.dsl.CheckSuite

/** Executes a [[CheckSuite]] over a bucketed table with checkpoint/resume:
  *
  *   - the work unit is the deterministic `bucket` column (the stand-in for
  *     a table partition; at Iceberg scale this is the partition value);
  *   - each completed bucket gets a manifest JSON (lineage + metrics)
  *     written atomically (temp file + rename) AFTER its verdict and
  *     violation rows are durably written — a restart recomputes only
  *     buckets without a manifest, and batch output dirs are keyed by the
  *     todo-set so a partial crash rewrites the same dir idempotently
  *     (exactly-once results without snapshot atomicity; the Iceberg
  *     binding would replace this with snapshot commits — SURVEY.md §7.5).
  *
  * A batch keeps four rules that bound its Spark tasks and jobs:
  *
  *   1. session-sized range shuffle: the input is explicitly
  *      range-partitioned on the key column (north rule: explicit
  *      partitioning) at the session's shuffle width, not at
  *      `totalBuckets` — a fixed count pins the width at any data size and
  *      AQE cannot coalesce it;
  *   2. verdicts are evaluated once: the per-bucket verdict rows (at most
  *      `totalBuckets`) are collected, and that same local result is both
  *      written and manifested;
  *   3. bucket-clustered writes: every `bucket=N` output dir is written by
  *      one task, so it holds one file, not one per upstream task;
  *   4. manifest-only snapshot sync: which buckets the snapshot table
  *      already holds is read from its manifests
  *      ([[graft.io.TableFormat.partitionValues]]), with no Spark job.
  *
  * This is the engine analogue of the reference's file-position resume
  * (`load()` from fd.tell(), json_repair.py:265-299): prior content
  * untouched, parse continues from the recorded position.
  */
object Runner {

  final case class BucketResult(bucket: Long, nRows: Long, nBad: Long, pass: Boolean)
  final case class RunSummary(processed: Seq[BucketResult], skipped: Seq[Long])

  private def manifestDir(outDir: String): Path = Paths.get(outDir, "_manifest")

  /** Per-bucket results recorded across all committed batch manifests:
    * one atomic JSON per BATCH (all of its buckets committed together), so
    * a crash anywhere before the single rename leaves NO bucket of that
    * batch manifested and the retry recomputes it idempotently into the
    * per-bucket output dirs. Parsed with the engine's own strict parser. */
  def manifestResults(outDir: String): Map[Long, BucketResult] = {
    import graft.repair.{JArr, JBool, JInt, JObj}
    val dir = manifestDir(outDir)
    if (!Files.isDirectory(dir)) return Map.empty
    Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("batch-") && n.endsWith(".json"))
      .flatMap { n =>
        graft.repair.PyJson.loads(Files.readString(dir.resolve(n))) match {
          case Some(JObj(f)) => f.get("buckets") match {
            case Some(JArr(bs)) => bs.toSeq.collect {
              case JObj(b) => (b.get("bucket"), b.get("n_rows"), b.get("n_bad"), b.get("pass")) match {
                case (Some(JInt(bk)), Some(JInt(nr)), Some(JInt(nb)), Some(JBool(p))) =>
                  Some(BucketResult(bk.toLong, nr.toLong, nb.toLong, p))
                case _ => None
              }
            }.flatten
            case _ => Seq.empty
          }
          case _ => Seq.empty
        }
      }
      .map(r => r.bucket -> r).toMap
  }

  /** Buckets already completed according to the manifest. */
  def completedBuckets(outDir: String): Set[Long] =
    manifestResults(outDir).keySet

  /** Run the suite over `df` (must carry the suite's bucket column),
    * completing at most `maxBuckets` of the remaining buckets (used by
    * tests to simulate a crash between batches).
    *
    * Proportional resume (round-6): by default the batch input is `df` in
    * full — required when the suite's global checks have no other source.
    * `scopedInput` instead builds the batch input FROM the todo set, so an
    * expensive derivation (the fused audio synth) runs only for the
    * unfinished buckets; `globalInput` then supplies the cheap full-table
    * lineage the global duplicate aggregate still needs (uniqueness reads
    * only (key, bucket), so this scan is narrow columnar IO, not the wide
    * derivation). The pair turns resume cost from O(full input) into
    * O(cheap full scan + remaining fraction of the expensive pass). */
  def run(
      spark: SparkSession,
      df: DataFrame,
      suite: CheckSuite,
      outDir: String,
      totalBuckets: Int = 32,
      maxBuckets: Int = Int.MaxValue,
      snapshotTable: Option[String] = None,
      scopedInput: Option[Seq[Long] => DataFrame] = None,
      globalInput: Option[DataFrame] = None): RunSummary = {
    require(scopedInput.isEmpty || globalInput.nonEmpty || suite.uniqueChecks.isEmpty,
      "scopedInput without globalInput would silently miss duplicates spanning " +
        "a completed and an unfinished bucket — pass the cheap full-table lineage")
    val t0 = System.nanoTime()
    Files.createDirectories(manifestDir(outDir))
    // snapshot table may trail the manifest by one batch after a crash
    // between the manifest rename and the snapshot append — re-sync first
    // (the manifest is the source of truth; appends are idempotent per
    // bucket because we only append buckets absent from the snapshot)
    snapshotTable.foreach(t => syncSnapshot(spark, outDir, t))
    val done = completedBuckets(outDir)
    val todo = (0L until totalBuckets.toLong).filterNot(done).take(maxBuckets)
    if (todo.isEmpty) return RunSummary(Nil, done.toSeq.sorted)

    // Full input feeds the compiler (dataset-level checks are global);
    // `scope` restricts what this batch reports. Explicit range partition
    // on the key ahead of the key-shuffled operators (rule 1: the width is
    // the session's shuffle width, which AQE may coalesce). Persisted
    // across the two jobs below (violations write + verdicts collect): the
    // input lineage may embed the expensive fused synth pass, which would
    // otherwise run once per job. The frame is NARROW (metadata + audio
    // measurements, no bytes), so at 10^12 rows this is a disk-spillable
    // cache of the cheap columns, not the audio payload; released before
    // returning.
    val batchInput = scopedInput.map(f => f(todo)).getOrElse(df)
    val repart = batchInput.repartitionByRange(col(suite.keyColumn))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // outputs are keyed PER BUCKET (dynamic partition overwrite): a retry
    // recomputes its buckets into the same bucket=N dirs no matter how the
    // todo set was batched, so a crash between the parquet writes and the
    // manifest commit can never leave duplicate rows for the read-back —
    // the Iceberg binding would replace this with snapshot commits.
    val batchId = todo.mkString("-").hashCode.toHexString
    val dyn = Map("partitionOverwriteMode" -> "dynamic")
    // unpersist in finally: a throw from the write or the collect must not
    // leak the cached narrow frame for the rest of the session
    val results = try {
      // rule 3: one task per bucket value, so one file per bucket dir
      CheckCompiler.violationsWithBucket(repart, suite, Some(todo), globalInput)
        .repartition(col("bucket"))
        .write.mode("overwrite").options(dyn)
        .partitionBy("bucket").parquet(s"$outDir/violations")

      // rule 2: one evaluation; the collected rows are written from a local
      // frame with the plan's own schema (one task, one file per bucket)
      val verdictPlan = CheckCompiler.verdicts(repart, suite, Some(todo), globalInput)
      val rows = verdictPlan.collect()
      spark.createDataFrame(rows.toSeq.asJava, verdictPlan.schema).coalesce(1)
        .write.mode("overwrite").options(dyn)
        .partitionBy("bucket").parquet(s"$outDir/verdicts")

      // durable results exist for every bucket in this batch -> commit ONE
      // atomic manifest for the whole batch (temp + rename). All-or-nothing:
      // a crash mid-write leaves the batch unmanifested, so the retry reuses
      // the same todo set / batchId and overwrites the same output dirs.
      rows.map(r => BucketResult(r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    } finally repart.unpersist(false) // write + collect done (or failed)
    val wallMs = (System.nanoTime() - t0) / 1000000
    val byBucket = results.map(r => r.bucket -> r).toMap
    val entries = todo.map { b =>
      // buckets with zero input rows still complete (empty result)
      val r = byBucket.getOrElse(b, BucketResult(b, 0L, 0L, pass = true))
      s"""{"bucket": ${r.bucket}, "n_rows": ${r.nRows}, "n_bad": ${r.nBad}, "pass": ${r.pass}}"""
    }
    val json =
      s"""{"batch": "$batchId", "wall_ms": $wallMs, "buckets": [${entries.mkString(", ")}]}"""
    val tmp = manifestDir(outDir).resolve(s".batch-$batchId.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestDir(outDir).resolve(s"batch-$batchId.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // Iceberg-shaped lineage: append this batch's verdicts as a new table
    // snapshot (manifest-of-files append — time travel per batch)
    snapshotTable.foreach(t => syncSnapshot(spark, outDir, t))
    RunSummary(results.toSeq.sortBy(_.bucket), done.toSeq.sorted)
  }

  /** Bring the verdict snapshot table up to date with the manifest: append
    * one snapshot holding every manifested bucket the table doesn't have
    * yet (no-op when in sync). Crash-safe in both directions — the
    * manifest leads, and appends are keyed on the missing-bucket set. The
    * table's buckets come from its snapshot manifests (rule 4): no Spark
    * job, whatever the table's size. */
  def syncSnapshot(spark: SparkSession, outDir: String, table: String): Unit = {
    import spark.implicits._
    val manifested = manifestResults(outDir)
    if (manifested.isEmpty) return
    val inSnapshot: Set[Any] = graft.io.TableFormat.currentVersion(table)
      .map(v => graft.io.TableFormat.partitionValues(table, v))
      .getOrElse(Set.empty)
    val missing = manifested.keySet.filterNot(inSnapshot).toSeq.sorted
    if (missing.nonEmpty) {
      val batchDf = missing.map { b =>
        val r = manifested(b)
        (r.bucket, r.nRows, r.nBad, r.pass)
      }.toDF("bucket", "n_rows", "n_bad", "pass")
      graft.io.TableFormat.append(batchDf, table, "bucket")
    }
  }

  /** All verdicts accumulated across batches (for reading back results).
    * `bucket` is a partition directory on disk — restore its position and
    * LongType (partition discovery infers int). */
  def verdicts(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/verdicts")
      .withColumn("bucket", col("bucket").cast("long"))
      .select("bucket", "n_rows", "n_bad", "pass")

  def violations(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/violations")
      .select("clip_id", "check_name", "column_name", "detail")
}
