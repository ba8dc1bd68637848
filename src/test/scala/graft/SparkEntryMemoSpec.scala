package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** `SparkEntry.t`'s base-relation memo is session-scoped: a plan built
  * in one session is served only to that session, and the memo lets
  * go of a session it no longer serves. */
class SparkEntryMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf0001

  test("a memoized plan is served only to the session that built it, " +
       "and a dropped session is not pinned") {
    val other = spark.newSession()
    val mine = SparkEntry.t(spark, sf0001, "nation")
    val theirs = SparkEntry.t(other, sf0001, "nation")
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other)
    assert(SparkEntry.t(spark, sf0001, "nation") eq mine) // memo hit
    assert(SparkEntry.t(other, sf0001, "nation") eq theirs)
    // a session whose last user is gone must become collectable once
    // other sessions have taken the memo's slots
    def useOnce(): java.lang.ref.WeakReference[SparkSession] = {
      val s = spark.newSession()
      assert(SparkEntry.t(s, sf0001, "nation").sparkSession eq s)
      new java.lang.ref.WeakReference(s)
    }
    val dropped = useOnce()
    val keep = (1 to 4).map { _ =>
      val s = spark.newSession()
      SparkEntry.t(s, sf0001, "nation")
      s
    }
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (dropped.get != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(dropped.get == null, "the memo still pins a dropped session")
    assert(keep.forall(s => SparkEntry.t(s, sf0001, "nation")
      .sparkSession eq s))
  }
}
