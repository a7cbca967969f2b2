package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives byte-identical sync versions, another seed different ones") {
    val s = Gen.SyncSpec(seed = 7, baseRows = 2000, rounds = 3, inserts = 50)
    for (v <- 0 to 3)
      assert(Gen.canonical(Gen.syncVersion(s, v)) sameElements Gen.canonical(Gen.syncVersion(s.copy(), v)))
    assert(!(Gen.canonical(Gen.syncVersion(s, 2)) sameElements Gen.canonical(Gen.syncVersion(s.copy(seed = 8), 2))))
  }

  test("the migrate input does not depend on the workload seed and keeps duplicate lineitem keys") {
    val t1 = Gen.tpch
    assert(t1.map(Gen.canonical).zip(Gen.tpch.map(Gen.canonical)).forall { case (x, y) => x sameElements y })
    assert(t1.map(_.rows).sum == 78630)
    val li = t1.find(_.name == "lineitem").get
    val pairs = (0L until li.rows).map(li.row).map(r => (r.getLong(0), r.getInt(3)))
    assert(pairs.distinct.size < pairs.size)
  }

  test("sync rounds change what the spec says: updates plus inserts, stamped with the round") {
    val s = Gen.SyncSpec(seed = 5, baseRows = 5000, rounds = 2, inserts = 100)
    val v0 = (0L until s.keysAt(0)).map(Gen.syncVersion(s, 0).row)
    val v1 = (0L until s.keysAt(1)).map(Gen.syncVersion(s, 1).row)
    val changed = v1.count(r => r.getLong(0) >= s.baseRows || r != v0(r.getLong(0).toInt))
    assert(changed == s.changedIn(1))
    assert(s.changedIn(1) > s.inserts)
  }

  test("the same seed gives a byte-identical corpus and query stream, another seed different ones") {
    val c = Gen.CorpusSpec(seed = 3, docs = 400)
    assert(Gen.canonical(Gen.corpus(c)) sameElements Gen.canonical(Gen.corpus(c.copy())))
    assert(!(Gen.canonical(Gen.corpus(c)) sameElements Gen.canonical(Gen.corpus(c.copy(seed = 4)))))
    val stream = (0L until 50L).map(Gen.query(c, _))
    assert(stream == (0L until 50L).map(Gen.query(c.copy(), _)))
    assert(stream != (0L until 50L).map(Gen.query(c.copy(seed = 4), _)))
  }

  test("the corpus has the fixture schema, Zipf words led by stopwords, and planted duplicates") {
    val c = Gen.CorpusSpec(seed = 11, docs = 2000)
    val docs = (0L until c.docs).map(Gen.corpus(c).row)
    assert(docs.forall(_.length == Gen.documentsSchema.length))
    val words = docs.flatMap(_.getString(1).split(" "))
    val top = words.groupBy(identity).toSeq.sortBy(-_._2.size).take(6).map(_._1).toSet
    assert(top == Gen.Stopwords.toSet)
    val texts = docs.map(_.getString(1))
    assert(texts.distinct.size < texts.size)
    assert(docs.forall(r => r.getLong(4) == r.getString(1).length))
    val kinds = (0L until 100L).map(Gen.query(c, _).kind)
    assert(kinds.count(_ == "or") == 50 && kinds.count(_ == "and") == 30 && kinds.count(_ == "phrase") == 20)
  }
}
