package lakebench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def inputs(seed: Long) =
    Gen.fingerprint(seed, drops = 3, dropRows = 500, baseRows = 2000,
      dmls = 30)

  test("the same seed yields byte-identical inputs") {
    assert(java.util.Arrays.equals(inputs(7), inputs(7)))
  }

  test("a different seed yields different inputs") {
    assert(!java.util.Arrays.equals(inputs(7), inputs(8)))
  }

  test("each drop counts exactly the rows cleansing keeps") {
    val d = Gen.drop(3, 0, 2000)
    val lines = new String(d.csv, "UTF-8").split("\n").toSeq.tail
    assert(lines.size == d.rows)
    val kept = lines.count { l =>
      val f = l.split(",", -1)
      f(0).nonEmpty && f(1).nonEmpty
    }
    assert(kept == d.clean && d.clean < d.rows)
  }

  test("drops carry every dirt class") {
    val csv = new String(Gen.drop(3, 1, 2000).csv, "UTF-8")
    assert(csv.contains("\n,"))                       // null claim id
    assert(csv.contains("\"  C"))                     // padded claim id
    assert(csv.contains(",\"   \","))                 // blank provider
    assert(csv.contains(",-"))                        // negative amount
    assert("""\d\d/\d\d/\d{4}""".r.findFirstIn(csv).nonEmpty) // US / EU
    assert("""\d{4}-\d\d-\d\d""".r.findFirstIn(csv).nonEmpty) // ISO
    assert(Seq("N/A", "TBD", "pending").exists(csv.contains)) // garbage
  }

  test("upsert and delete keys are Zipf-skewed and distinct per batch") {
    val base = Gen.baseClaims(5, 4000)
    val hot = Gen.hotClaims(5, base).map(_.claimId)
    val zipf = new Gen.Zipf(hot.size, 1.1)
    val batches = (0 until 200).map(Gen.dml(5, _, zipf,
      Gen.hotClaims(5, base), 40, 20))
    val keys = batches.flatMap {
      case Gen.Upsert(_, rows) =>
        assert(rows.map(_.claimId).distinct.size == rows.size)
        rows.map(_.claimId)
      case Gen.DeleteKeys(_, ks) =>
        assert(ks.distinct.size == ks.size)
        ks
      case _ => Nil
    }
    assert(keys.count(_ == hot(0)) > keys.count(_ == hot(1000)) + 5)
    assert(batches.exists(_.isInstanceOf[Gen.Upsert]))
    assert(batches.exists(_.isInstanceOf[Gen.DeleteRange]))
  }
}
