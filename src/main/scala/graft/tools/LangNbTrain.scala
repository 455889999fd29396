package graft.tools

import org.apache.spark.sql.functions._

import graft.pipeline.{LangNb, TextAnalysis}

/** Train the character-n-gram NB language classifier over a documents
  * table and persist the model — the one-time artifact
  * [[CorpusReport]]'s `langModel=<dir>` mode (and any standing-corpus
  * classification) loads, mirroring [[BpeTrain]] for the token grain.
  * Labels come from the stopword distant-supervision heuristic
  * ([[TextAnalysis.languageId]]) unless a labeled parquet
  * (`labels=<path>` with `(doc_id, label)`) is supplied.
  *
  * ```
  * runMain graft.tools.LangNbTrain <docs.parquet> <modelDir> [n=3] \
  *     [labels=<labels.parquet>]
  * ```
  *
  * Prints one JSON line: corpus size, gram size, label set, trained
  * grid size, and the wall seconds.
  */
object LangNbTrain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: LangNbTrain <docs.parquet> <modelDir> [n=3] [labels=<parquet>]")
    val docsPath = args(0)
    val modelDir = args(1)
    val flags = args.drop(2).map { a =>
      val Array(k, v) = a.split("=", 2); k -> v
    }.toMap
    val n = flags.getOrElse("n", "3").toInt
    val spark = graft.SessionTuning.localSession(docsPath)

    val docs = spark.read.parquet(docsPath).select("doc_id", "text")
    val nDocs = docs.count()
    val labels = flags.get("labels") match {
      case Some(p) => spark.read.parquet(p).select("doc_id", "label")
      case None => docs.select(col("doc_id"),
        TextAnalysis.languageId(col("text")).as("label"))
    }
    val t0 = System.nanoTime()
    val model = LangNb.train(docs, labels, n)
    LangNb.saveModel(model, n, modelDir)
    val trainSec = (System.nanoTime() - t0) / 1e9
    val (loaded, params) = LangNb.loadModel(spark, modelDir)
    val gridRows = loaded.gramLp.count()
    def j(d: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    println(s"""{"docs":"$docsPath","n_docs":$nDocs,"n":$n,""" +
      s""""labels":[${params.labels.map(l => s""""$l"""").mkString(",")}],""" +
      s""""grid_rows":$gridRows,"train_sec":${j(trainSec)},""" +
      s""""model":"$modelDir"}""")
    spark.stop()
  }
}
