package perfbench

import java.util.SplittableRandom

import graft.functions.FakeEmbedder

/** A document of the generated corpus or of an ingest batch. `country`
  * and `numClaims` are derived the way the program's own reference
  * meta store derives them (`FilteredServe.refMetaStoreFor`). */
final case class Doc(id: Long, text: String, lang: String) {
  def source: String = s"src${id % 20}"
  def country: String = lang.take(2).toUpperCase
  def numClaims: Int = (id % 43).toInt
}

/** A metadata predicate of the filtered serve: `lang = v` alone, or
  * `country = v AND num_claims >= n`. */
final case class Pred(lang: Option[String], country: Option[String], minClaims: Option[Int]) {
  def matches(d: Doc): Boolean =
    lang.forall(_ == d.lang) && country.forall(_ == d.country) &&
      minClaims.forall(d.numClaims >= _)
  override def toString: String =
    (lang.map(v => s"lang=$v") ++ country.map(v => s"country=$v") ++
      minClaims.map(n => s"num_claims>=$n")).mkString(" AND ")
}

/** One gateway request. `text` is embedded for the vector classes,
  * `id` is the record a lookup asks for, and for a dedup check `dupOf`
  * is the stored document whose text is resubmitted. */
final case class Request(index: Int, cls: String, text: String, pred: Option[Pred],
                         id: Long, dupOf: Long)

/** Deterministic inputs, shaped after the repository's sf0.1 test data
  * (figures in perfbench/README.md): 5 000 documents of 10-100 words
  * drawn uniformly from the same 30-word vocabulary, the same language
  * mix, 5% near-duplicates (an earlier document's text plus the word
  * "dup"), and 2 000 random unit 64-d vectors. The corpus is fixed; the
  * run seed drives every request, predicate and ingest document. */
object Inputs {
  val CorpusSeed = 20240917L
  val NDocs = 5000
  val NVecs = 2000
  val Dim: Int = FakeEmbedder.Dim
  val NearDupRate = 0.05
  val MinWords = 10
  val MaxWords = 100

  /** planner thresholds scaled to the 2 000-vector corpus so the three
    * cardinality bands reach the exact, code and broad tiers */
  val ExactScanMax = 100L
  val CodeScanMax = 500L

  val Langs: Seq[(String, Double)] =
    Seq("en" -> 0.412, "zh" -> 0.151, "es" -> 0.149, "fr" -> 0.148, "de" -> 0.140)

  val Vocabulary: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")

  private def pickLang(r: SplittableRandom): String = {
    val u = r.nextDouble()
    var acc = 0.0
    Langs.find { case (_, w) => acc += w; u < acc }.map(_._1).getOrElse(Langs.last._1)
  }

  /** a text of MinWords to MaxWords uniform vocabulary words */
  def text(r: SplittableRandom): String =
    Seq.fill(MinWords + r.nextInt(MaxWords - MinWords + 1))(
      Vocabulary(r.nextInt(Vocabulary.size))).mkString(" ")

  def newDoc(r: SplittableRandom, id: Long): Doc = Doc(id, text(r), pickLang(r))

  /** The fixed corpus; a near-duplicate keeps the earlier text, appends
    * "dup" and draws its own language. */
  lazy val corpus: IndexedSeq[Doc] = {
    val r = new SplittableRandom(CorpusSeed)
    val docs = new scala.collection.mutable.ArrayBuffer[Doc](NDocs)
    (0 until NDocs).foreach { i =>
      val d = newDoc(r, i.toLong)
      if (i > 10 && r.nextDouble() < NearDupRate)
        docs += d.copy(text = docs(r.nextInt(i)).text + " dup")
      else docs += d
    }
    docs.toIndexedSeq
  }

  /** the corpus vectors: random unit vectors, unrelated to the texts */
  lazy val vectors: IndexedSeq[Array[Float]] = {
    val r = new java.util.Random(CorpusSeed + 1)
    IndexedSeq.fill(NVecs) {
      val v = Array.fill(Dim)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
  }

  /** the `label` column of the embeddings table: uniform over 10 */
  def label(i: Int): Int = new SplittableRandom(CorpusSeed + 2 + i).nextInt(10)

  /** every filter predicate over the vector rows, with its matching
    * count, grouped into selective / mid / broad bands */
  lazy val predBands: Map[String, IndexedSeq[Pred]] = {
    val vecDocs = corpus.take(NVecs)
    val langPreds = Langs.map(_._1).map(l => Pred(Some(l), None, None))
    val metaPreds = for {
      c <- Langs.map(_._1.toUpperCase); n <- 0 until 43
    } yield Pred(None, Some(c), Some(n))
    (langPreds ++ metaPreds).map(p => p -> vecDocs.count(p.matches).toLong)
      .filter(_._2 > 0)
      .groupBy { case (_, n) => band(n) }
      .map { case (b, ps) => b -> ps.map(_._1).toIndexedSeq }
  }

  def band(matching: Long): String =
    if (matching <= ExactScanMax) "selective"
    else if (matching <= CodeScanMax) "mid" else "broad"

  val Bands: Seq[String] = Seq("selective", "mid", "broad")

  /** the bands a predicate shape reaches: with this language mix no
    * `lang = v` is selective, so lang predicates cycle mid / broad */
  def bandsFor(langShape: Boolean): Seq[String] =
    Bands.filter(b => predBands.getOrElse(b, Nil).exists(_.lang.isDefined == langShape))

  /** Serve mix, in requests per block of 20. Every block holds exactly
    * this mix, and the filtered classes take each band their shape
    * reaches once per block (lang: mid, broad; meta: selective, mid,
    * broad), so a run of whole blocks has the same composition for
    * every seed and its percentiles sit on the same class ranks. */
  val ServeMix: Seq[(String, Int)] = Seq("hnsw" -> 4, "code" -> 4,
    "filtered_lang" -> 2, "filtered_meta" -> 3, "lookup" -> 4, "dedup" -> 3)
  val BlockSize: Int = ServeMix.map(_._2).sum

  private def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream * 7919L + i)

  /** Request `i` of the serve stream for `seed`: the mix in a seeded
    * order within each block. Texts, predicates within a band, ids and
    * the order vary with the seed. A dedup check resubmits a stored
    * document's text. */
  def serveRequest(seed: Long, i: Int): Request = {
    val block = ServeMix.flatMap { case (c, n) => Seq.fill(n)(c) }
    val order = new scala.util.Random(new java.util.Random(seed * 31L + i / block.size))
      .shuffle(block)
    val cls = order(i % block.size)
    // how many earlier requests of this block share the class, plus the
    // class's count in earlier blocks: the class's own request number
    val nth = (i / block.size) * block.count(_ == cls) + order.take(i % block.size).count(_ == cls)
    val r = rng(seed, 1, i)
    val txt = text(r)
    cls match {
      case "filtered_lang" | "filtered_meta" =>
        val langShape = cls == "filtered_lang"
        val bands = bandsFor(langShape)
        val ps = predBands(bands(nth % bands.size)).filter(_.lang.isDefined == langShape)
        Request(i, cls, txt, Some(ps(r.nextInt(ps.size))), -1, -1)
      case "lookup" => Request(i, cls, txt, None, r.nextInt(NDocs).toLong, -1)
      case "dedup" =>
        val src = corpus(r.nextInt(NDocs))
        Request(i, cls, src.text, None, -1, src.id)
      case _ => Request(i, cls, txt, None, -1, -1)
    }
  }

  /** the languages whose `lang = v` predicate falls in the mid band */
  lazy val MidLangs: Seq[String] =
    predBands("mid").flatMap(_.lang).distinct.sorted

  /** Ingest batch `b` for `seed`: `size` new documents with ids past
    * every corpus id. The first one, the document read back, has a
    * mid-band language, so its filtered reads take the same tier in
    * every cycle. */
  def ingestBatch(seed: Long, b: Int, size: Int): Seq[Doc] = {
    val r = rng(seed, 2, b)
    val docs = (0 until size).map(j => newDoc(r, 1000000L + b.toLong * size + j))
    docs.updated(0, docs.head.copy(lang = MidLangs(r.nextInt(MidLangs.size))))
  }

  def cosine(q: Array[Float], v: Array[Float]): Double = {
    var dot = 0.0; var qn = 0.0; var vn = 0.0; var j = 0
    while (j < v.length) {
      dot += v(j).toDouble * q(j); qn += q(j).toDouble * q(j); vn += v(j).toDouble * v(j); j += 1
    }
    if (qn == 0 || vn == 0) 0.0 else dot / math.sqrt(qn * vn)
  }

  /** exact top-`k` (id, cosine) of `q` over `rows`, highest first,
    * ties by id */
  def exactTopK(q: Array[Float], k: Int, rows: Iterable[(Long, Array[Float])]): Seq[(Long, Double)] =
    rows.iterator.map { case (id, v) => (id, cosine(q, v)) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(k)
}
