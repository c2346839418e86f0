package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val li = Gen.LiSizes(docs = 2000, parts = 200, suppliers = 50, batchSize = 300)
  private val rs = Gen.RSizes(docs = 500, dim = 16, clusters = 8, upserts = 40, deletes = 10)
  private val cs = Gen.CSizes(docs = 200, tokensPerDoc = 40, shardSize = 30)

  /** Digest of every generated input of one seed. */
  private def all(seed: Long): (Long, String) = {
    val d = new Digest
    d.add(Gen.lineitems(seed, li).toSeq)
    (0 until 3).foreach(b => d.add(Gen.changeBatch(seed, li, b).toSeq))
    val corpus = Gen.corpus(seed, rs)
    d.add(corpus.toSeq)
    (0 until 3).foreach(q => d.add(Gen.query(seed, rs, corpus, q)))
    (0 until 2).foreach(m => d.add(Gen.mutation(seed, rs, m)))
    val cur = Gen.curationCorpus(seed, cs)
    d.add(cur)
    d.add(Gen.shard(seed, cs, cur.docs.toIndexedSeq, 0))
    d.add(Gen.probe(seed, cs, 0, cur.docs.headOption))
    (d.bytes, d.hex)
  }

  test("the same seed gives the same bytes; another seed different ones") {
    val a = all(7)
    assert(a == all(7))
    assert(a._1 > 0)
    assert(all(8)._2 != a._2)
  }

  test("an input depends on its own index, not on how many came before") {
    val d1 = new Digest().add(Gen.changeBatch(3, li, 5).toSeq).hex
    (0 until 5).foreach(b => Gen.changeBatch(3, li, b))
    assert(new Digest().add(Gen.changeBatch(3, li, 5).toSeq).hex == d1)
  }

  test("change batches carry skew, deletions, WHERE exits and rising seqnos") {
    val batches = (0 until 20).map(b => Gen.changeBatch(11, li, b))
    val all = batches.flatten
    val del = all.count(_.opcode == "DELETION").toDouble / all.length
    assert(del > 0.05 && del < 0.15)
    val exits = all.count(c => c.opcode == "MUTATION" &&
      c.l_quantity > Gen.MaxIndexedQuantity)
    assert(exits > 0)
    val hot = all.count(_.docid < li.docs / 100).toDouble / all.length
    assert(hot > 0.4)
    val seqs = all.map(_.seqno)
    assert(seqs == seqs.sorted && seqs.distinct.length == seqs.length)
  }

  test("mutation batches keep upserted and deleted ids disjoint") {
    (0 until 5).foreach { m =>
      val b = Gen.mutation(2, rs, m)
      val up = b.upserts.map(_.id)
      assert(up.distinct.length == up.length)
      assert(b.deletes.distinct.length == b.deletes.length)
      assert(up.toSet.intersect(b.deletes.toSet).isEmpty)
      assert(b.upserts.forall(_.vec.length == rs.dim))
    }
  }

  test("planted duplicates: exact copies are equal, near copies differ slightly") {
    val c = Gen.curationCorpus(5, cs)
    val text = c.docs.map(d => d.doc_id -> d.text).toMap
    assert(c.exactPairs.nonEmpty && c.nearPairs.nonEmpty)
    c.exactPairs.foreach { case (o, cp) => assert(text(o) == text(cp)) }
    c.nearPairs.foreach { case (o, cp) =>
      val (a, b) = (text(o).split(" "), text(cp).split(" "))
      assert(a.length == b.length)
      val diff = a.zip(b).count { case (x, y) => x != y }
      assert(diff >= 1 && diff <= 2)
    }
    val originals = (c.exactPairs ++ c.nearPairs).map(_._1)
    assert(originals.distinct.length == originals.length)
    assert(originals.forall(_ < c.nBase))
  }
}
