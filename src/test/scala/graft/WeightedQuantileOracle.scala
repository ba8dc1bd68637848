package graft

/** Driver oracle for [[graft.ops.Relational.weightedQuantile]]: one walk
  * over every distinct (group, value) in value order, nulls first, with
  * `sum`'s null rules (null weights add nothing; a running sum over no
  * non-null weight is null and reaches nothing). A group answers the
  * smallest non-null value whose running weight reaches q, or null if
  * only null values reach it; a group where nothing reaches q is absent.
  * Rows are (group, value, weight). */
object WeightedQuantileOracle {
  type Row = (Option[String], Option[Long], Option[Long])

  def apply(rows: Seq[Row], qNum: Int, qDen: Int)
      : Set[(Option[String], Option[Long], Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      val byValue = rs.groupBy(_._2).toSeq
        .map { case (v, xs) =>
          val ws = xs.flatMap(_._3)
          (v, if (ws.isEmpty) None else Some(ws.sum))
        }
        .sortBy(_._1)
      val cums = byValue.scanLeft(Option.empty[Long]) { case (c, (_, w)) =>
        w.map(_ + c.getOrElse(0L)).orElse(c) }.tail
      cums.lastOption.flatten.flatMap { tot =>
        val reached = byValue.map(_._1).zip(cums).collect {
          case (v, Some(c)) if BigInt(c) * qDen >= BigInt(tot) * qNum => v }
        if (reached.isEmpty) None
        else Some((g, reached.flatten.minOption, tot))
      }
    }.toSet
}
