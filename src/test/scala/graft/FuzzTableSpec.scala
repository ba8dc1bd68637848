package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.FuzzTable

/** Pins the table-fuzz specs without a Spark session: the names they
  * register, the oracle SQL they check against, and the row pre-flight
  * of the families that redraw. */
class FuzzTableSpec extends AnyFunSuite {

  test("the 46 tfuzz spec names") {
    def range(from: Int, to: Int, tag: String) =
      (from to to).map(i => s"q${i}_$tag")
    val expected = range(539, 550, "tfuzz") ++ range(554, 563, "tfuzz2") ++
      range(573, 580, "tfuzz3") ++ range(583, 590, "tfuzz4") ++
      range(595, 602, "tfuzz5")
    assert(FuzzTable.specs.map(_.name) == expected)
  }

  test("oracle SQL digest is unchanged") {
    // (name, SQL) pairs sorted by name, whitespace runs collapsed to one
    // space — exact here, as these SQL strings hold no string literals
    val text = FuzzTable.specs
      .map(sp => s"${sp.name}\t${sp.sql.replaceAll("\\s+", " ")}")
      .sorted.mkString("\n")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(digest ==
      "3ff6d6fb1e85be8870c13ca23150a4a162d4929ca4eb240b5c9797704552df51")
  }

  test("every tfuzz3/4/5 draw passes its row pre-flight") {
    val checked = FuzzTable.families.filter(_.preflight)
    assert(checked.map(_.tag) == Seq("tfuzz3", "tfuzz4", "tfuzz5"))
    for (f <- checked; (d, i) <- FuzzTable.draws(f).zipWithIndex)
      assert(FuzzTable.finalCount(d) >= FuzzTable.MinRows,
        s"q${f.first + i}_${f.tag}")
  }
}
