package perfbench

import Gen._

/** Independent in-memory model of the `crud` table: the reference
  * semantics written out directly, with no Spark and no library code.
  * Every read the workload makes is checked against it.
  *  - upsert: new keys insert; existing keys take COALESCE(new, old)
  *    per non-key column;
  *  - update: matched keys take exactly the given values, NULL too;
  *    unmatched keys are ignored;
  *  - delete: rows where the predicate is TRUE go; NULL keeps the row. */
final class CrudModel(initial: Seq[Acct]) {
  private val rows = new java.util.TreeMap[java.lang.Long, Acct]()
  initial.foreach(a => rows.put(a.id, a))
  private var top = if (rows.isEmpty) 0L else rows.lastKey.longValue

  def size: Int = rows.size
  def maxId: Long = top
  def get(id: Long): Option[Acct] = Option(rows.get(id))
  def all: Seq[Acct] = { val b = Seq.newBuilder[Acct]; rows.values.forEach(a => b += a); b.result() }

  /** The newest existing key at or below `k` (the lowest key if none). */
  def existingAtOrBelow(k: Long): Long =
    Option(rows.floorKey(k)).getOrElse(rows.firstKey).longValue

  def upsert(batch: Seq[UpRow]): Unit = batch.foreach { u =>
    val a = get(u.id) match {
      case Some(old) => Acct(u.id, u.grp.getOrElse(old.grp), u.name.orElse(old.name),
        u.amount.orElse(old.amount), u.qty.getOrElse(old.qty))
      case None => Acct(u.id, u.grp.get, u.name, u.amount, u.qty.get)
    }
    rows.put(u.id, a)
    top = math.max(top, u.id)
  }

  /** Returns the number of matched rows, as the reference's rowcount. */
  def update(changes: Seq[Change]): Long = changes.count { c =>
    get(c.id) match {
      case Some(old) => rows.put(c.id, old.copy(amount = c.amount, qty = c.qty)); true
      case None => false
    }
  }

  def delete(lo: Long, hi: Long, maxAmount: Double): Int = {
    val doomed = range(lo, hi).filter(_.amount.exists(_ < maxAmount))
    doomed.foreach(a => rows.remove(a.id))
    doomed.size
  }

  private def range(lo: Long, hi: Long): Seq[Acct] = {
    val b = Seq.newBuilder[Acct]
    rows.subMap(lo, true, hi, true).values.forEach(a => b += a)
    b.result()
  }

  /** `get` with BETWEEN lo AND hi, amount > min, ORDER BY id DESC, OFFSET, LIMIT. */
  def rangeGet(lo: Long, hi: Long, minAmount: Double, limit: Int, offset: Int): Seq[Acct] =
    range(lo, hi).filter(_.amount.exists(_ > minAmount)).reverse.slice(offset, offset + limit)

  /** COUNT(*), MIN(amount), MAX(amount) WHERE grp = g. */
  def agg(grp: Int): (Long, Option[Double], Option[Double]) = {
    val in = all.filter(_.grp == grp)
    val am = in.flatMap(_.amount)
    (in.size.toLong, am.minOption, am.maxOption)
  }
}
