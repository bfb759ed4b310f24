package graftbench

import scala.collection.mutable

/** The table_churn key batches and the in-memory model of the table
  * they produce. Pure Scala and a function of the seed alone, so the
  * same seed gives byte-identical batches.
  *
  * Rows are (id, month index, ver); ids rise with the month, so the
  * table's id-clustered files line up with months. Each round draws
  * most keys from the last three months and the rest from one older
  * month, like a late correction. Batch sizes alternate so that both
  * `deleteIds` (3,000 / 10,000 keys) and `upsert` (6,000 / 13,000)
  * straddle ManifestTable's 8,192-key literal-IN cap. Inserts balance
  * deletes over every two rounds, so the table's size is stationary. */
final class ChurnPlan(seed: Long) {
  import ChurnPlan._

  /** Live keys per month index, with O(1) random pick and removal. */
  private val byMonth = Array.fill(Months)(mutable.ArrayBuffer.empty[Long])
  private val pos = mutable.LongMap.empty[Int]
  private val monthOf = mutable.LongMap.empty[Int]
  private val verOf = mutable.LongMap.empty[Long]
  private var nextId = 0L

  var count = 0L
  var sumId = 0L
  var sumVer = 0L

  private def insert(id: Long, m: Int, ver: Long): Unit = {
    pos(id) = byMonth(m).length
    byMonth(m) += id
    monthOf(id) = m; verOf(id) = ver
    count += 1; sumId += id; sumVer += ver
  }

  private def remove(id: Long): Unit = {
    val m = monthOf(id)
    val b = byMonth(m)
    val p = pos(id)
    val last = b.last
    b(p) = last; pos(last) = p
    b.dropRightInPlace(1)
    pos -= id
    count -= 1; sumId -= id; sumVer -= verOf(id)
    monthOf -= id; verOf -= id
  }

  private def update(id: Long, ver: Long): Unit = {
    sumVer += ver - verOf(id); verOf(id) = ver
  }

  /** The initial table: [[RowsPerMonth]] ids per month, ver 0. */
  def initial(): Unit = {
    for (m <- 0 until Months; _ <- 0 until RowsPerMonth) {
      insert(nextId, m, 0L); nextId += 1
    }
  }

  def monthCount(m: Int): Long = byMonth(m).length.toLong
  def idsOfMonth(m: Int): Seq[Long] = byMonth(m).toSeq

  /** `n` distinct live keys: 80% from the last three months, the rest
    * from one older month. */
  private def pick(r: scala.util.Random, n: Int, older: Int,
      taken: mutable.Set[Long]): Seq[Long] = {
    val out = mutable.ArrayBuffer.empty[Long]
    var guard = 0
    while (out.length < n && guard < n * 20) {
      guard += 1
      val m = if (r.nextInt(10) < 8) Months - 1 - r.nextInt(3) else older
      val b = byMonth(m)
      if (b.nonEmpty) {
        val id = b(r.nextInt(b.length))
        if (taken.add(id)) out += id
      }
    }
    out.toSeq
  }

  private def fresh(n: Int): Seq[Long] = {
    val ids = (0 until n).map(nextId + _); nextId += n; ids
  }

  /** The next round's batches, applied to the model. Even and odd
    * rounds swap which call gets the large batch, so each round costs
    * about the same and two rounds leave the table's size unchanged. */
  def round(i: Int): Round = {
    val r = new scala.util.Random(seed * 1000003L + i)
    val even = Math.floorMod(i, 2) == 0
    val ver = i.toLong + 3 // warm-up rounds have negative ids
    val older = r.nextInt(Months - 3)
    val taken = mutable.Set.empty[Long]
    val top = Months - 1

    // upsert: SmallBatch existing keys updated, plus new keys inserted
    // (6,000 keys in all on even rounds, 13,000 on odd ones)
    val upd = pick(r, SmallBatch, older, taken)
    val ins = fresh(if (even) SmallBatch else LargeBatch)
    upd.foreach(update(_, ver))
    ins.foreach(insert(_, top, ver))
    val upsert = upd.map(id => (id, monthOf(id), ver)) ++ ins.map((_, top, ver))

    // deleteIds: LargeBatch keys on even rounds, SmallBatch on odd ones
    val del = pick(r, if (even) LargeBatch else SmallBatch, older, taken)
    del.foreach(remove)

    // merge: (keep, insert) on even rounds, (delete, ignore) on odd ones
    val existing = pick(r, MergeBatch, older, taken)
    val (mergeMode, merge) =
      if (even) {
        val added = fresh(MergeBatch)
        val src = existing.map(id => (id, monthOf(id), ver)) ++ added.map((_, top, ver))
        added.foreach(insert(_, top, ver))
        (("keep", "insert"), src)
      } else {
        val src = existing.map(id => (id, monthOf(id), ver)) ++
          (0 until MergeBatch).map(k => (Absent + i.toLong * MergeBatch + k, top, ver))
        existing.foreach(remove)
        (("delete", "ignore"), src)
      }

    // replaceRange: reload one of the last six months with new values
    val rm = Months - 1 - r.nextInt(6)
    val replaced = idsOfMonth(rm)
    replaced.foreach(update(_, ver))

    Round(i, upsert, del, mergeMode, merge, rm, replaced.map(id => (id, rm, ver)))
  }
}

object ChurnPlan {
  val Months = 24
  val RowsPerMonth = 5000
  val SmallBatch = 3000
  val LargeBatch = 10000
  val MergeBatch = 1000
  /** Ids at and above this are never allocated: merge's unmatched keys. */
  val Absent = 1000000000000L

  /** Month index to the table's yyyymm value (2024-01 is index 0). */
  def yyyymm(m: Int): Int = (2024 + m / 12) * 100 + m % 12 + 1

  type Rows = Seq[(Long, Int, Long)]

  final case class Round(i: Int, upsert: Rows, deleteIds: Seq[Long],
      mergeMode: (String, String), merge: Rows, replaceMonth: Int,
      replacement: Rows) {
    /** A stable text form of every batch, for determinism checks. */
    def render: String = Seq(
      upsert.mkString(","), deleteIds.mkString(","), mergeMode.toString,
      merge.mkString(","), replaceMonth.toString, replacement.mkString(",")
    ).mkString("\n")
  }
}
