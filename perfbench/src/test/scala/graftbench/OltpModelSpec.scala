package graftbench

import org.scalatest.funsuite.AnyFunSuite

class OltpModelSpec extends AnyFunSuite {
  private def ops(seed: Long, n: Int): Seq[OltpOp] = {
    val m = new OltpModel(seed, 20000)
    Seq.fill(n)(m.next())
  }

  test("the same seed yields the same op sequence") {
    assert(ops(7, 500) == ops(7, 500))
    assert(ops(7, 500) != ops(8, 500))
  }

  test("every block of four ops is 2 lookups, 1 upsert, 1 delete") {
    val seq = ops(3, 4000)
    seq.grouped(4).foreach { b =>
      assert(b.count(_.isInstanceOf[Lookup]) == 2)
      assert(b.count(_.isInstanceOf[Upsert]) == 1)
      assert(b.count(_.isInstanceOf[Delete]) == 1)
    }
    seq.foreach {
      case Upsert(ups, ins) =>
        assert(ups.size == 5 && ins.size == 5)
        assert(ups.map(_._1).distinct.size == 5)
      case Delete(ks) => assert(ks.distinct.size == 10)
      case _ => ()
    }
  }

  test("updates and deletes only touch live keys; inserts are new") {
    val m = new OltpModel(11, 20000)
    val issued = collection.mutable.Set.empty[Long] ++ (1L to 20000L)
    (1 to 2000).foreach { _ =>
      val live = issued.filter(m.isLive).toSet
      m.next() match {
        case Upsert(ups, ins) =>
          assert(ups.forall(u => live(u._1)))
          assert(ins.forall(k => !issued(k)))
          issued ++= ins
        case Delete(ks) => assert(ks.forall(live))
        case _ => ()
      }
    }
  }

  test("the model accepts the stored form and rejects an altered document") {
    val m = new OltpModel(5, 100)
    val good = m.expected(42).get
    assert(m.check(42, Some(good)))
    // field order is not part of the contract
    val reordered = {
      val t = new com.fasterxml.jackson.databind.ObjectMapper().readTree(good)
      val fields = collection.mutable.ArrayBuffer.empty[String]
      t.fieldNames().forEachRemaining(f => fields += f)
      fields.reverse.map(f => Json.str(f) + ":" + t.get(f).toString)
        .mkString("{", ",", "}")
    }
    assert(m.check(42, Some(reordered)))
    val doc = m.doc(42, 0)
    val altered = Seq(
      good.replace(Json.str(doc.status), Json.str(doc.status + "x")),
      good.replace("\"customer$segment\"", "\"customer$segmentX\""),
      good.replace(Json.str(Json.value(doc.tags)),
        Json.str(Json.value(doc.tags.reverse :+ "extra"))),
      good.replace("\"qty\":" + doc.items.head.qty,
        "\"qty\":" + (doc.items.head.qty + 1)))
    altered.foreach { bad =>
      assert(bad != good)
      assert(!m.check(42, Some(bad)), bad)
    }
    assert(!m.check(42, None))
    assert(!m.check(42, Some("not json")))
  }

  test("deleted keys must read back as absent; upserts replace the root") {
    val m = new OltpModel(9, 100)
    var deleted = Option.empty[Long]
    var updated = Option.empty[(Long, Int)]
    while (deleted.isEmpty || updated.isEmpty) m.next() match {
      case Delete(ks) if deleted.isEmpty => deleted = Some(ks.head)
      case Upsert(ups, _) if updated.isEmpty => updated = Some(ups.head)
      case _ => ()
    }
    val d = deleted.get
    assert(!m.isLive(d))
    assert(m.expected(d).isEmpty)
    assert(m.check(d, None))
    assert(!m.check(d, Some(Corpus.storedJson(
      Corpus.rootRow(m.doc(d, 0)), m.doc(d, 0).items))))
    val (k, v) = updated.get
    if (m.isLive(k)) {
      val e = m.expected(k).get
      assert(e.contains(Json.str(m.doc(k, v).orderTime)))
      // an upsert rewrites the root row only: items stay the preloaded ones
      assert(e.contains("\"qty\":" + m.doc(k, 0).items.head.qty))
    }
  }
}
