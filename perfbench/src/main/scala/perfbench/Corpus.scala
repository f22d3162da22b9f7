package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{CodeStore, FilteredServe, HnswStore, SigStore}

/** Writes the generated tables and builds the stores a workload serves
  * from, each under the run's own work directory. */
object Corpus {

  /** write the tables the workloads read to `<dir>` in the layout the
    * program's table loaders expect (`<dir>/<name>.parquet`) */
  def writeTables(spark: SparkSession, dir: String): Unit = {
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = Inputs.corpus.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))
    spark.createDataFrame(docs.asJava, docSchema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    val embs = Inputs.vectors.indices.map(i => Row(i.toLong, Inputs.vectors(i).toSeq, Inputs.label(i)))
    spark.createDataFrame(embs.asJava, embSchema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** (vec_id, lang, country, num_claims) of the vector rows */
  def metaFrame(spark: SparkSession, sf: String): DataFrame =
    graft.Tables.documents(spark, sf).filter(col("doc_id") < Inputs.NVecs)
      .select(col("doc_id").as("vec_id"), col("lang"),
        upper(substring(col("lang"), 1, 2)).as("country"),
        (col("doc_id") % 43).as("num_claims"))

  def embFrame(spark: SparkSession, sf: String): DataFrame =
    graft.Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))

  /** The stores of one workload, built into `dir`, timed per store. */
  final case class Stores(dir: String, hnsw: String, code: String, meta: String, sig: String)

  def buildStores(spark: SparkSession, sf: String, dir: String, withHnsw: Boolean,
                  timings: scala.collection.mutable.Map[String, Double]): Stores = {
    val s = Stores(dir, s"$dir/hnsw", s"$dir/code", s"$dir/meta", s"$dir/sig")
    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      timings(name) = (System.nanoTime() - t0) / 1e9
    }
    if (withHnsw) timed("hnsw")(HnswStore.write(spark, sf, s.hnsw))
    timed("code")(CodeStore.write(spark, sf, s.code))
    timed("meta")(FilteredServe.writeMetaFrom(spark, s.meta, metaFrame(spark, sf),
      Seq("lang", "country"), embFrame(spark, sf), rangeCols = Seq("num_claims")))
    timed("sig")(SigStore.write(spark,
      graft.Tables.documents(spark, sf).select(col("doc_id"), col("text")), s.sig))
    s
  }
}
