package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TableFormat

/** Model-based differential test of the snapshot seam's full lifecycle:
  * a seeded random sequence of commit / append / overwritePartitions /
  * compact / expireSnapshots ops runs against BOTH the real TableFormat
  * and a trivial in-memory model (a map of rows keyed by a unique id),
  * asserting read-equality after every op, time-travel equality against
  * retained model snapshots, and incremental-delta equality for appends.
  * One random mid-sequence schema evolution (a late `x` column) exercises
  * the additive-evolution read path under composition with everything
  * else. The single-op semantics are each pinned by a dedicated
  * TableFormatSpec test; THIS spec pins that they stay correct under
  * arbitrary interleaving — the property a production lineage actually
  * relies on and the one a hand-enumerated test matrix cannot cover. */
class TableLifecycleModelSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // a model row: id is globally unique (write order), grp is the partition
  // value, pay is an arbitrary payload, x is the late-evolution column
  // (None until the lineage evolves, and forever-None for rows written
  // before the evolution)
  private case class MRow(id: Long, grp: Int, pay: Long, x: Option[Long])

  private def toDf(rows: Seq[MRow], evolved: Boolean): DataFrame = {
    import spark.implicits._
    if (evolved)
      rows.map(r => (r.id, r.grp, r.pay, r.x)).toDF("id", "grp", "pay", "x")
    else {
      assert(rows.forall(_.x.isEmpty))
      rows.map(r => (r.id, r.grp, r.pay)).toDF("id", "grp", "pay")
    }
  }

  /** Collect the real table into model form (missing/null x → None). */
  private def collectTable(df: DataFrame): Set[MRow] = {
    val withX = if (df.columns.contains("x")) df else df.withColumn("x", lit(null).cast("long"))
    withX.select("id", "grp", "pay", "x").collect().map { r =>
      MRow(r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }.toSet
  }

  for (seed <- Seq(42, 7, 1337))
  test(s"random lifecycle sequences match the in-memory model (seed $seed)") {
    val rnd = new Random(seed)
    val table = Files.createTempDirectory("graft-model").toString
    var model = Set.empty[MRow]                 // current expected rows
    var history = Map.empty[Int, Set[MRow]]     // version -> expected rows
    var nextId = 0L
    var evolved = false
    val evolveAt = 8 + rnd.nextInt(6)           // op index of the evolution

    def batch(nRows: Int): Seq[MRow] = {
      val rows = (0 until nRows).map { _ =>
        val r = MRow(nextId, rnd.nextInt(5), rnd.nextLong(1000),
          if (evolved) Some(rnd.nextLong(100)) else None)
        nextId += 1
        r
      }
      rows
    }

    // op 0 is always a commit so the table exists; the model is the batch
    // itself, derived independently of anything the table reads back
    val rows0 = batch(12)
    val v0 = TableFormat.commit(toDf(rows0, evolved), table, "grp", statsCols = Seq("id"))
    model = rows0.toSet
    history += v0 -> model

    var ops = 0
    while (ops < 24) {
      ops += 1
      if (ops == evolveAt) evolved = true
      val op = rnd.nextInt(11) match {
        case 0 => "commit"
        case 1 | 2 | 3 => "append"
        case 4 | 5 => "overwrite"
        case 6 => "append_empty"
        case 7 => "compact"
        case 8 => "expire"
        case 9 => "rollback"
        case _ => "append"
      }
      op match {
        case "commit" =>
          val rows = batch(4 + rnd.nextInt(8))
          val v = TableFormat.commit(toDf(rows, evolved), table, "grp", statsCols = Seq("id"))
          model = rows.toSet
          history += v -> model
        case "append" =>
          val rows = batch(3 + rnd.nextInt(6))
          val before = TableFormat.currentVersion(table).get
          val v = TableFormat.append(toDf(rows, evolved), table, "grp", statsCols = Seq("id"))
          model = model ++ rows
          history += v -> model
          // the incremental delta of an append is exactly its batch
          val delta = collectTable(TableFormat.readIncremental(spark, table, before, v))
          assert(delta == rows.toSet, s"op $ops append delta mismatch")
        case "append_empty" =>
          // current schema shape (the evolution guard checks columns even
          // on an empty batch — a writer that forgot a column should hear
          // about it whether or not this cycle had rows)
          val v = TableFormat.append(toDf(Seq.empty, evolved), table, "grp")
          history += v -> model
        case "overwrite" =>
          val rows = batch(2 + rnd.nextInt(5))
          val replaced = rows.map(_.grp).toSet
          val v = TableFormat.overwritePartitions(toDf(rows, evolved), table, "grp", statsCols = Seq("id"))
          model = model.filterNot(r => replaced(r.grp)) ++ rows
          history += v -> model
        case "compact" =>
          val v = TableFormat.compact(spark, table)
          history += v -> model
        case "rollback" =>
          // undo back to any retained version; the model is that version's
          // recorded state
          val targets = history.keys.toSeq.sorted
          val target = targets(rnd.nextInt(targets.size))
          val v = TableFormat.rollback(table, target)
          model = history(target)
          history += v -> model
        case "expire" =>
          val keep = 1 + rnd.nextInt(3)
          val all = TableFormat.snapshots(table)
          TableFormat.expireSnapshots(table, keep)
          val dropped = all.dropRight(keep).toSet
          history = history.filterNot { case (v, _) => dropped(v) }
      }
      val got = collectTable(TableFormat.read(spark, table))
      assert(got == model,
        s"op $ops ($op): table/model divergence — " +
          s"extra=${(got -- model).take(3)} missing=${(model -- got).take(3)}")
      // the manifest-only partition listing equals the distinct partition
      // values the read returned
      val parts = TableFormat.partitionValues(table, TableFormat.currentVersion(table).get)
      assert(parts == got.map(_.grp.toLong),
        s"op $ops ($op): partitionValues $parts vs read ${got.map(_.grp)}")
      // stats-pruned range read composed with whatever just happened
      // (overwrite exclusions, rollback, expiry, evolution): readWhere must
      // equal the model filtered by the same closed range, every time
      val lo = rnd.nextLong(math.max(1L, nextId))
      val hi = lo + rnd.nextLong(20) + 1
      val prunedGot = collectTable(TableFormat.readWhere(spark, table, "id", lo, hi))
      val prunedExp = model.filter(r => r.id >= lo && r.id <= hi)
      assert(prunedGot == prunedExp,
        s"op $ops ($op): readWhere($lo, $hi) diverged — " +
          s"extra=${(prunedGot -- prunedExp).take(3)} missing=${(prunedExp -- prunedGot).take(3)}")
    }

    // time travel: every retained version still reads its recorded state
    history.foreach { case (v, expected) =>
      assert(collectTable(TableFormat.read(spark, table, Some(v))) == expected,
        s"time travel to v$v diverged")
      assert(TableFormat.partitionValues(table, v) == expected.map(_.grp.toLong),
        s"partitionValues of v$v diverged")
    }
    assert(history.size >= 2, "expiry removed too much history to be a meaningful check")
  }
}
