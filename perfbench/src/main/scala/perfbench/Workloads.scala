package perfbench

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Embedder, FakeEmbedder}
import graft.operators.SimilaritySearch
import graft.sources.{CodeStore, FilteredServe, HnswStore, Ingest, MetaTerm, SigStore}

/** What a workload hands back beyond the operation records. */
final class Extra {
  /** recall@10 of each checked vector read, by recall class */
  val recall = TrieMap.empty[String, java.util.concurrent.ConcurrentLinkedQueue[Double]]
  def addRecall(cls: String, r: Double): Unit =
    recall.getOrElseUpdate(cls, new java.util.concurrent.ConcurrentLinkedQueue[Double]()).add(r): Unit
  /** ingest: embedding plus text bytes committed, and how much the
    * store directories grew meanwhile */
  @volatile var userBytes = 0L
  @volatile var storeBytes = 0L
}

/** The calls every workload makes into the program, each wrapped in a
  * span named after the layer it enters. */
final class Calls(h: Harness, sf: String, st: Corpus.Stores) {
  val spark: SparkSession = h.spark
  private val t = h.tracer
  val embedder: Embedder = FakeEmbedder
  val k = 10

  def embed(text: String): Array[Float] = t.span("functions.embed")(embedder.embed(text))

  private def ranked(df: => DataFrame): Seq[(Long, Double)] = {
    val frame = t.span("sources.call")(df)
    t.span("sources.collect")(frame.select(col("vec_id"), col("sim")).collect())
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  def hnsw(q: Array[Float]): Seq[(Long, Double)] = ranked(HnswStore.search(spark, st.hnsw, q, k))
  def code(q: Array[Float]): Seq[(Long, Double)] = ranked(CodeStore.search(spark, st.code, q, k))
  def filteredLang(q: Array[Float], lang: String): Seq[(Long, Double)] =
    ranked(CodeStore.searchFiltered(spark, st.code, st.meta, q, Seq("lang" -> lang), k,
      exactScanMax = Inputs.ExactScanMax, codeScanMax = Inputs.CodeScanMax))
  def filteredMeta(q: Array[Float], country: String, minClaims: Int): Seq[(Long, Double)] =
    ranked(FilteredServe.searchFilteredMetaTerms(spark, st.meta, q,
      Seq(MetaTerm.Eq("country", country), MetaTerm.Cmp("num_claims", ">=", minClaims.toString)),
      k, exactScanMax = Inputs.ExactScanMax, codeScanMax = Inputs.CodeScanMax))
  def filtered(q: Array[Float], p: Pred): Seq[(Long, Double)] = p.lang match {
    case Some(l) => filteredLang(q, l)
    case None => filteredMeta(q, p.country.get, p.minClaims.get)
  }

  def lookup(id: Long): Seq[Long] = {
    val frame = t.span("operators.call")(
      SimilaritySearch.recordById(graft.Tables.documents(spark, sf), "doc_id", id))
    t.span("operators.collect")(frame.select(col("doc_id")).collect()).map(_.getLong(0)).toSeq
  }

  /** near-duplicate pairs (id_a, id_b) of `text` submitted as `newId` */
  def dedup(newId: Long, text: String): Seq[(Long, Long)] = {
    import spark.implicits._
    val batch = Seq((newId, text)).toDF("doc_id", "text")
    val frame = t.span("sources.call")(SigStore.incrementalNearDup(spark, st.sig, batch))
    t.span("sources.collect")(frame.select(col("id_a"), col("id_b")).collect())
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
  }
}

object Checks {
  /** at most k rows, similarity non-increasing */
  def ranking(rows: Seq[(Long, Double)], k: Int): Boolean =
    rows.zip(rows.drop(1)).forall { case (a, b) => a._2 >= b._2 } && rows.size <= k

  /** recall@k of `rows` against the exact top-k `exact`; a returned row
    * ties an exact one when its exact cosine (`vecOf` gives its vector)
    * is within 1e-6 of the k-th exact score */
  def recall(q: Array[Float], rows: Seq[(Long, Double)], exact: Seq[(Long, Double)],
             vecOf: Long => Option[Array[Float]]): Double =
    if (exact.isEmpty) 1.0
    else {
      val kth = exact.last._2
      val hits = rows.count { case (id, _) => vecOf(id).exists(Inputs.cosine(q, _) >= kth - 1e-6) }
      math.min(1.0, hits.toDouble / exact.size)
    }

  /** the first row is `id`, or ties the first row's similarity */
  def ranksFirst(rows: Seq[(Long, Double)], id: Long): Boolean =
    rows.nonEmpty && rows.exists { case (r, s) => r == id && s >= rows.head._2 }
}

/** `serve`: the agent gateway, one closed-loop client. The warm-up
  * before the measured window runs WarmClients clients at once for
  * WarmMs, so the JIT sees more of the serve path in the same time. The
  * measured window is whole blocks of the request mix (Inputs.ServeMix)
  * until `--seconds` have passed, so its composition is the same in
  * every run. */
object Serve {
  val WarmClients = 3
  val WarmMs = 8000.0

  /** warm up, then measure for `windowMs`; returns the window start */
  def run(h: Harness, c: Calls, seed: Long, windowMs: Double, x: Extra): Double = {
    val warmUntil = Clock.nowMs + WarmMs
    val warm = (1 to WarmClients).map { w =>
      val t = new Thread(() => loop(h, c, seed + 7919L * w, w, warmUntil, x), s"perfbench-warm-$w")
      t.start(); t
    }
    warm.foreach(_.join())
    val start = Clock.nowMs
    loop(h, c, seed, 0, start + windowMs, x)
    start
  }

  /** closed loop of `client` over the request stream of `seed` until
    * `until`; client 0's requests are the measured ones, and it ends on
    * a block boundary */
  def loop(h: Harness, c: Calls, seed: Long, client: Int, until: Double, x: Extra): Unit = {
    val measured = client == 0
    var i = 0
    while (Clock.nowMs < until || (measured && i % Inputs.BlockSize != 0)) {
      val req = Inputs.serveRequest(seed, i)
      i += 1
      req.cls match {
        case "hnsw" | "code" | "filtered_lang" | "filtered_meta" =>
          var q: Array[Float] = null
          h.op(req.cls, client, measured) {
            q = c.embed(req.text)
            req.cls match {
              case "hnsw" => c.hnsw(q)
              case "code" => c.code(q)
              case _ => c.filtered(q, req.pred.get)
            }
          } { rows =>
            val keep: Int => Boolean = req.pred match {
              case Some(p) => i => p.matches(Inputs.corpus(i))
              case None => _ => true
            }
            val shapeOk = Checks.ranking(rows, c.k) && rows.nonEmpty &&
              rows.forall { case (id, _) => id >= 0 && id < Inputs.NVecs && keep(id.toInt) }
            // answer quality does not depend on timing: the warm-up
            // requests are scored too, for a steadier recall figure
            if (shapeOk) {
              val exact = Inputs.exactTopK(q, c.k,
                Inputs.vectors.indices.filter(keep).map(i => (i.toLong, Inputs.vectors(i))))
              x.addRecall(req.cls, Checks.recall(q, rows, exact, id => Some(Inputs.vectors(id.toInt))))
            }
            shapeOk
          }
        case "lookup" =>
          h.op(req.cls, client, measured)(c.lookup(req.id))(ids => ids == Seq(req.id))
        case "dedup" =>
          val newId = 9000000L + 100000L * client + req.index
          h.op(req.cls, client, measured)(c.dedup(newId, req.text)) { pairs =>
            pairs.forall { case (a, b) => a == newId || b == newId } &&
              pairs.exists { case (a, b) => Set(a, b) == Set(req.dupOf, newId) }
          }
      }
    }
  }
}

/** `ingest`: writes, each read back before the next. One closed-loop
  * client runs cycles: embed a batch of new documents and upsert it
  * into the code, meta and signature stores, then search, filter-search
  * (both predicate shapes) and dedup-check one of the new documents.
  * Every read follows a write that invalidated its store's session
  * caches, so it pays the cache-miss path; a last code search, for
  * another new document, shows the same read once the store is warm
  * again. One unmeasured cycle warms up; then whole cycles are measured
  * until `--seconds` have passed, and at least MinCycles of them. */
object IngestLoad {
  val BatchSize = 8
  val MinCycles = 4

  /** every vector the stores hold, with its document: the corpus rows,
    * then each committed batch */
  private final class Committed {
    val vecs = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Float]]
    val docs = scala.collection.mutable.Map.empty[Long, Doc]
    Inputs.vectors.indices.foreach { i =>
      vecs(i.toLong) = Inputs.vectors(i); docs(i.toLong) = Inputs.corpus(i)
    }
    def exact(q: Array[Float], k: Int, p: Pred): Seq[(Long, Double)] =
      Inputs.exactTopK(q, k, vecs.filter { case (id, _) => p.matches(docs(id)) })
  }

  /** warm up, then measure; returns the window start */
  def run(h: Harness, c: Calls, st: Corpus.Stores, seed: Long, windowMs: Double,
          x: Extra): Double = {
    val bytes0 = Seq(st.code, st.meta, st.sig).map(dirBytes).sum
    val committed = new Committed
    cycle(h, c, st, seed, 0, measured = false, x, committed)
    val start = Clock.nowMs
    var b = 0
    while (b < MinCycles || Clock.nowMs < start + windowMs) {
      b += 1
      cycle(h, c, st, seed, b, measured = true, x, committed)
    }
    x.storeBytes = Seq(st.code, st.meta, st.sig).map(dirBytes).sum - bytes0
    start
  }

  private val Unfiltered = Pred(None, None, None)

  /** write batch `b`, read its first document back four ways, then
    * search for its last one */
  private def cycle(h: Harness, c: Calls, st: Corpus.Stores, seed: Long, b: Int,
                    measured: Boolean, x: Extra, committed: Committed): Unit = {
    val spark = h.spark
    import spark.implicits._
    val docs = Inputs.ingestBatch(seed, b, BatchSize)
    var vecs: Map[Long, Array[Float]] = Map.empty
    val w = h.op("write", 0, measured) {
      val raw = docs.map(d => (d.id, d.text, d.lang, d.country, d.numClaims.toLong))
        .toDF("doc_id", "text", "lang", "country", "num_claims")
      val rows = h.tracer.span("functions.embed")(
        Ingest.embedDocuments(raw, "doc_id", c.embedder)
          .select(col("doc_id"), col("embedding")).collect())
      vecs = rows.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      val upd = docs.map(d => (d.id, vecs(d.id).toSeq, d.text, d.lang, d.country,
        d.numClaims.toLong)).toDF("vec_id", "embedding", "text", "lang", "country", "num_claims")
      h.tracer.span("sources.call")(CodeStore.upsert(spark, st.code,
        upd.select(col("vec_id"), col("embedding"))))
      h.tracer.span("sources.call")(FilteredServe.upsertMeta(spark, st.meta,
        upd.select(col("vec_id"), col("embedding"), col("lang"), col("country"),
          col("num_claims"))))
      h.tracer.span("sources.call")(SigStore.upsert(spark, st.sig,
        upd.select(col("vec_id").as("doc_id"), col("text"))))
      vecs.size
    } { n => n == docs.size && docs.forall(d => vecs(d.id).length == FakeEmbedder.Dim) }
    if (w.ok) {
      x.userBytes += docs.map(d => d.text.getBytes("UTF-8").length + 4L * FakeEmbedder.Dim).sum
      docs.foreach { d => committed.vecs(d.id) = vecs(d.id); committed.docs(d.id) = d }
      val doc = docs.head
      val vec = vecs(doc.id)
      // the write is seen (the document ranks first for its own
      // vector), and the answer's recall is scored over every
      // committed row the predicate admits
      def seen(recallCls: String, p: Pred)(rows: Seq[(Long, Double)]): Boolean = {
        require(Checks.ranking(rows, c.k) && Checks.ranksFirst(rows, doc.id),
          s"$p: doc ${doc.id} not first in $rows")
        require(rows.forall { case (id, _) => committed.docs.get(id).exists(p.matches) },
          s"$p: a row outside the predicate in $rows")
        if (measured) x.addRecall(recallCls,
          Checks.recall(vec, rows, committed.exact(vec, c.k, p), committed.vecs.get))
        true
      }
      h.op("read_search", 0, measured)(c.code(vec))(seen("read_search", Unfiltered))
      val byLang = Pred(Some(doc.lang), None, None)
      h.op("read_filtered", 0, measured)(c.filteredLang(vec, doc.lang))(
        seen("read_filtered", byLang))
      val byCountry = Pred(None, Some(doc.country), Some(0))
      h.op("read_filtered", 0, measured)(c.filteredMeta(vec, doc.country, 0))(
        seen("read_filtered", byCountry))
      val newId = 9000000L + b
      h.op("read_dedup", 0, measured)(c.dedup(newId, doc.text)) { pairs =>
        require(pairs.exists { case (a, z) => Set(a, z) == Set(doc.id, newId) },
          s"dedup: doc ${doc.id} not found in $pairs")
        true
      }
      val last = docs.last
      h.op("read_search_warm", 0, measured)(c.code(vecs(last.id))) { rows =>
        require(Checks.ranking(rows, c.k) && Checks.ranksFirst(rows, last.id),
          s"doc ${last.id} not first in $rows")
        true
      }
    }
  }

  def dirBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
