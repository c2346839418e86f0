package perfbench

import java.io.{DataOutputStream, OutputStream}
import java.security.MessageDigest
import java.util.SplittableRandom

/** A lineitem-shaped source document (the function-keyed and
  * expression-keyed indexes are built over these).
  */
final case class LineItem(docid: Long, l_partkey: Long, l_suppkey: Long,
                          l_quantity: Double, l_extendedprice: Double,
                          l_discount: Double, l_shipdate: Int)

/** One change-feed event for the lineitem store; the payload columns are
  * what the maintained index's key and WHERE expressions read.
  */
final case class LiChange(opcode: String, docid: Long, seqno: Long,
                          l_partkey: Long, l_quantity: Double)

/** A document of the retrieval corpus: one id shared by its embedding
  * (ANN) and its text (BM25).
  */
final case class RDoc(id: Long, vec: Array[Float], text: String)

/** One retrieval mutation batch: upserts (new or re-embedded ids) and
  * deletions, with disjoint ids.
  */
final case class RMutation(upserts: Seq[RDoc], deletes: Seq[Long])

/** A curation document. */
final case class CDoc(doc_id: Long, source: String, text: String)

/** The curation corpus with its planted duplicates: (original, copy). */
final case class CurationCorpus(docs: Seq[CDoc], exactPairs: Seq[(Long, Long)],
                                nearPairs: Seq[(Long, Long)], nBase: Int)

/** Seeded input generators. Every input is a pure function of
  * (seed, stream, index), so the same seed yields the same inputs no
  * matter how many of them a run ends up using; [[Digest]] turns any of
  * them into the bytes a run records.
  */
object Gen {

  /** Independent generator for one input stream of a seed. */
  def rng(seed: Long, stream: Long, index: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + index))

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller from two uniforms (SplittableRandom has no nextGaussian)
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  // ------------------------------------------------------------ index_maint

  final case class LiSizes(docs: Int, parts: Int, suppliers: Int,
                           batchSize: Int)

  /** WHERE of the maintained index: quantities above it leave the index. */
  val MaxIndexedQuantity = 45.0

  def lineitems(seed: Long, s: LiSizes): Array[LineItem] = {
    val r = rng(seed, 1)
    Array.tabulate(s.docs) { i =>
      val part = r.nextInt(s.parts).toLong
      val qty = (1 + r.nextInt(50)).toDouble
      LineItem(i.toLong, part, r.nextInt(s.suppliers).toLong, qty,
        qty * (900 + part % 1000), r.nextInt(11) / 100.0,
        8000 + r.nextInt(2500))
    }
  }

  /** Change batch `b`: hot-key skew (half the events hit 1% of the
    * docids and a third of new keys land on 1% of the parts), ~10%
    * DELETION, ~10% of mutations leaving the WHERE set, and a few
    * inserts of new docids. Seqnos grow across batches.
    */
  def changeBatch(seed: Long, s: LiSizes, b: Int): Array[LiChange] = {
    val r = rng(seed, 2, b)
    val hotDocs = math.max(1, s.docs / 100)
    val hotParts = math.max(1, s.parts / 100)
    Array.tabulate(s.batchSize) { j =>
      val u = r.nextDouble()
      val docid =
        if (u < 0.5) r.nextInt(hotDocs).toLong
        else if (u < 0.95) r.nextInt(s.docs).toLong
        else (s.docs + r.nextInt(math.max(1, s.docs / 10))).toLong
      val seqno = (b + 1).toLong * 10000000L + j
      if (r.nextDouble() < 0.10) LiChange("DELETION", docid, seqno, 0L, 0.0)
      else {
        val part =
          if (r.nextDouble() < 0.33) r.nextInt(hotParts).toLong
          else r.nextInt(s.parts).toLong
        LiChange("MUTATION", docid, seqno, part, (1 + r.nextInt(50)).toDouble)
      }
    }
  }

  // -------------------------------------------------------------- retrieval

  final case class RSizes(docs: Int, dim: Int, clusters: Int,
                          upserts: Int, deletes: Int)

  private val CommonWords = 2000
  private val TopicWords = 40

  private def topicText(r: SplittableRandom, cluster: Int): String = {
    val words = Seq.fill(8)(s"t${cluster}x${r.nextInt(TopicWords)}") ++
      Seq.fill(16)(s"w${zipf(r, CommonWords)}")
    words.mkString(" ")
  }

  /** Cluster centers the corpus and its mutations are drawn around. */
  def centers(seed: Long, s: RSizes): Array[Array[Float]] = {
    val r = rng(seed, 3)
    Array.fill(s.clusters, s.dim)(gaussian(r).toFloat)
  }

  private def aroundCenter(r: SplittableRandom, c: Array[Float],
                           noise: Double): Array[Float] =
    c.map(x => (x + noise * gaussian(r)).toFloat)

  /** The base corpus: a clustered embedding per id, perturbed around its
    * cluster center, and a text mixing that cluster's topic words with
    * Zipf-distributed common words.
    */
  def corpus(seed: Long, s: RSizes): Array[RDoc] = {
    val cs = centers(seed, s)
    val r = rng(seed, 4)
    Array.tabulate(s.docs) { i =>
      val c = r.nextInt(s.clusters)
      RDoc(i.toLong, aroundCenter(r, cs(c), 0.6), topicText(r, c))
    }
  }

  /** Query `q`: a perturbation of one base document's embedding, with
    * three of that document's words as its lexical terms.
    */
  def query(seed: Long, s: RSizes, base: Array[RDoc], q: Int)
      : (Array[Float], Seq[String]) = {
    val r = rng(seed, 5, q)
    val d = base(r.nextInt(base.length))
    val terms = d.text.split(" ").distinct
    (d.vec.map(x => (x + 0.3 * gaussian(r)).toFloat),
      Seq.fill(3)(terms(r.nextInt(terms.length))).distinct)
  }

  /** Mutation batch `m`: re-embedded existing ids, brand-new ids and
    * deletions of existing ids, all distinct within the batch.
    */
  def mutation(seed: Long, s: RSizes, m: Int): RMutation = {
    val cs = centers(seed, s)
    val r = rng(seed, 6, m)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    val nReembed = s.upserts * 7 / 10
    while (picked.size < nReembed + s.deletes)
      picked += r.nextInt(s.docs).toLong
    val (reembed, deletes) = picked.toSeq.splitAt(nReembed)
    val fresh = (0 until s.upserts - nReembed)
      .map(j => s.docs.toLong + m.toLong * s.upserts + j)
    val upserts = (reembed ++ fresh).map { id =>
      val c = r.nextInt(s.clusters)
      RDoc(id, aroundCenter(r, cs(c), 0.6), topicText(r, c))
    }
    RMutation(upserts, deletes)
  }

  // --------------------------------------------------------------- curation

  final case class CSizes(docs: Int, tokensPerDoc: Int, shardSize: Int)

  private val Sources = Seq("web", "books", "news", "forum")
  private val Stop = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das", "nicht", "ein"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por"),
    "fr" -> Seq("le", "les", "et", "des", "une", "est", "dans"))
  private val Langs = Seq("en", "en", "en", "en", "en", "en", "en", "de", "es", "fr")

  /** Zipf-ish rank in [0, n): heavy head, long tail. */
  private def zipf(r: SplittableRandom, n: Int): Int =
    math.min(n - 1, (math.pow(n + 1.0, r.nextDouble()) - 1).toInt)

  /** A fresh document: content words with a language's stopwords mixed
    * in, one in twenty documents made repetitive (low quality).
    */
  private def freshText(r: SplittableRandom, nTokens: Int,
                        mayRepeat: Boolean = true): String = {
    val stop = Stop(Langs(r.nextInt(Langs.length)))
    val repetitive = mayRepeat && r.nextInt(20) == 0
    val words = Array.fill(nTokens) {
      if (r.nextDouble() < 0.3) stop(r.nextInt(stop.length))
      else if (repetitive) s"rep${r.nextInt(4)}"
      else s"v${zipf(r, 5000)}"
    }
    words.mkString(" ")
  }

  /** Replace `k` tokens: a near duplicate (3-shingle Jaccard ~0.8-0.9). */
  def nearCopy(r: SplittableRandom, text: String, k: Int = 2): String = {
    val w = text.split(" ")
    (0 until k).foreach(_ => w(r.nextInt(w.length)) = s"edit${r.nextInt(1000000)}")
    w.mkString(" ")
  }

  /** Base documents, then planted exact copies (5%) and near copies (5%)
    * of distinct base documents, with ids after the base range.
    */
  def curationCorpus(seed: Long, s: CSizes): CurationCorpus = {
    val r = rng(seed, 7)
    val base = Array.tabulate(s.docs) { i =>
      CDoc(i.toLong, Sources(r.nextInt(Sources.length)),
        freshText(r, s.tokensPerDoc / 2 + r.nextInt(s.tokensPerDoc)))
    }
    val nPlant = s.docs / 20
    val originals = {
      val set = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (set.size < 2 * nPlant) set += r.nextInt(s.docs)
      set.toSeq
    }
    val exact = originals.take(nPlant).zipWithIndex.map { case (o, j) =>
      CDoc(s.docs.toLong + j, base(o).source, base(o).text)
    }
    val near = originals.drop(nPlant).zipWithIndex.map { case (o, j) =>
      CDoc(s.docs.toLong + nPlant + j, base(o).source, nearCopy(r, base(o).text))
    }
    CurationCorpus(base.toSeq ++ exact ++ near,
      originals.take(nPlant).map(_.toLong).zip(exact.map(_.doc_id)),
      originals.drop(nPlant).map(_.toLong).zip(near.map(_.doc_id)),
      s.docs)
  }

  /** Arriving shard `k`: fresh documents, one in ten a near copy of one
    * of `kept` (returned as (copy id, original id)).
    */
  def shard(seed: Long, s: CSizes, kept: IndexedSeq[CDoc], k: Int)
      : (Seq[CDoc], Seq[(Long, Long)]) = {
    val r = rng(seed, 8, k)
    val firstId = 10000000L + k.toLong * s.shardSize
    val planted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val docs = (0 until s.shardSize).map { j =>
      val id = firstId + j
      if (j % 10 == 0) {
        val o = kept(r.nextInt(kept.length))
        planted += ((id, o.doc_id))
        CDoc(id, o.source, nearCopy(r, o.text))
      } else CDoc(id, Sources(r.nextInt(Sources.length)),
        freshText(r, s.tokensPerDoc / 2 + r.nextInt(s.tokensPerDoc)))
    }
    (docs, planted.toSeq)
  }

  /** Lookup probe `q`: a near copy of `target` when given, else a fresh
    * document that is not repetitive (so it near-duplicates nothing).
    */
  def probe(seed: Long, s: CSizes, q: Int, target: Option[CDoc]): CDoc = {
    val r = rng(seed, 9, q)
    target match {
      case Some(t) => CDoc(-1L - q, t.source, nearCopy(r, t.text))
      case None => CDoc(-1L - q, "web", freshText(r, s.tokensPerDoc, mayRepeat = false))
    }
  }
}

/** SHA-256 and byte count of generated inputs in a fixed binary encoding:
  * equal seeds give equal digests, and the count is the input volume a
  * run records.
  */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  private var n = 0L
  private val out = new DataOutputStream(new OutputStream {
    override def write(b: Int): Unit = { md.update(b.toByte); n += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      md.update(b, off, len); n += len
    }
  })

  def add(v: Any): Digest = {
    v match {
      case x: Long => out.writeLong(x)
      case x: Int => out.writeInt(x)
      case x: Double => out.writeDouble(x)
      case x: Float => out.writeFloat(x)
      case x: String => out.writeUTF(x)
      case xs: Array[Float] => xs.foreach(out.writeFloat)
      case xs: Iterable[_] => xs.foreach(add)
      case xs: Array[_] => xs.foreach(add)
      case p: Product => p.productIterator.foreach(add)
      case other => out.writeUTF(other.toString)
    }
    this
  }

  def bytes: Long = { out.flush(); n }
  def hex: String = { out.flush(); md.clone().asInstanceOf[MessageDigest]
    .digest().map(b => f"${b & 0xff}%02x").mkString }
}
