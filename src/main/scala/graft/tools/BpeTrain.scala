package graft.tools

import graft.pipeline.Bpe

/** Train a BPE vocabulary over a documents table and persist the merge
  * table — the one-time artifact [[Curate]]'s `tokens=bpe:<dir>` mode
  * (and any token-grain consumer) loads.
  *
  * ```
  * runMain graft.tools.BpeTrain <docs.parquet> <vocabDir> [merges=64] \
  *     [encode=on] [trainer=auto|full|delta|local]
  * ```
  *
  * `trainer=local` runs the exact in-memory trainer
  * ([[Bpe.trainLocal]]) over the collected distinct-word table —
  * byte-identical merges, and the production-depth path: a 32k-merge
  * vocabulary that prices at ~7-8 h of per-round Spark job overhead
  * under either distributed trainer trains in seconds once the state
  * is driver-resident (BASELINE round-19). Refuses vocabularies over
  * [[Bpe.LocalTrainerMaxWords]] distinct words.
  *
  * `trainer=delta` uses the incremental pair-count trainer
  * ([[Bpe.trainIncremental]] — per-round cost bounded by the words a
  * merge actually touches instead of every adjacent pair); merges are
  * byte-identical to the default full re-aggregate trainer, so the
  * saved vocabularies diff empty (BpeDeepSpec pins it; the round-17
  * BASELINE run diffs the two parquet artifacts at 2048 merges).
  *
  * `trainer=auto` (the default) picks the local trainer whenever the
  * vocabulary fits the driver bound, else by merge count between the
  * distributed trainers: the measured crossover (BASELINE "BPE
  * trainer crossover", round 17) has the full re-aggregate ~10%
  * faster at <=25k merges (per-round job overhead dominates) and the
  * delta trainer 1.9x faster at 100k — so auto selects delta at
  * [[AutoDeltaThreshold]] (32768) merges and above.
  *
  * Prints one JSON line: corpus size, distinct words, merges trained,
  * wall seconds, and the corpus token total under the trained table
  * (the compression the vocabulary buys — word count is the 0-merge
  * upper bound times average word length). `encode=on` additionally
  * times the full token-id SEQUENCE export ([[Bpe.encode]], the
  * heaviest replay consumer) under the trained table — the round-16
  * production-depth measurement (merges=2048 exercises the batched
  * [[Bpe.wordStates]] replay the way a 32k-merge vocabulary would).
  */
object BpeTrain {

  /** Merge count at and above which `trainer=auto` picks the
    * incremental distributed trainer over the full re-aggregate WHEN
    * THE VOCABULARY IS TOO LARGE FOR THE DRIVER — between the measured
    * 25k (full wins by ~10%) and 100k (delta wins 1.9x) crossover
    * bracket, at the production 32k-vocab point.
    */
  val AutoDeltaThreshold = 32768

  /** `auto` resolves by vocabulary size first (the in-memory exact
    * trainer whenever the distinct-word table fits the driver bound —
    * it is strictly faster at every merge count since the distributed
    * trainers' per-round cost at driver-scale vocabularies is ~all
    * fixed job overhead), then by merge count between the two
    * distributed trainers. Explicit flags pass through. All three
    * produce byte-identical merge tables (BpeLocalSpec / BpeDeepSpec).
    */
  private[tools] def selectTrainer(flag: String, numMerges: Int,
      nDistinctWords: Long): String =
    if (flag != "auto") flag
    else if (nDistinctWords <= Bpe.LocalTrainerMaxWords) "local"
    else if (numMerges >= AutoDeltaThreshold) "delta"
    else "full"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BpeTrain <docs.parquet> <vocabDir> [merges=64] [encode=on] " +
        "[trainer=auto|full|delta|local]  (auto: local when the " +
        "vocabulary fits the driver, else delta at >=32768 merges)")
    val docsPath = args(0)
    val vocabDir = args(1)
    val numMerges = args.lift(2).map { a =>
      require(a.startsWith("merges="), s"expected merges=<n>, got '$a'")
      a.stripPrefix("merges=").toInt
    }.getOrElse(64)
    val doEncode = args.lift(3).contains("encode=on")
    val trainerFlag = args.lift(4).map { a =>
      require(a.startsWith("trainer="), s"expected trainer=<t>, got '$a'")
      a.stripPrefix("trainer=")
    }.getOrElse("auto")
    require(Seq("auto", "full", "delta", "local").contains(trainerFlag),
      s"trainer must be auto|full|delta|local, got '$trainerFlag'")
    val spark = graft.SessionTuning.localSession(docsPath)

    val docs = spark.read.parquet(docsPath).select("doc_id", "text")
    val nDocs = docs.count()
    // Vocabulary size up front: `auto` selects by it (the one extra
    // corpus pass replaces the identical post-training count below).
    val nWords = Bpe.wordFreqs(docs).count()
    val trainer = selectTrainer(trainerFlag, numMerges, nWords)
    val t0 = System.nanoTime()
    val merges = trainer match {
      case "local" => Bpe.trainLocal(docs, numMerges)
      case "delta" => Bpe.trainIncremental(docs, numMerges)
      case _       => Bpe.train(docs, numMerges)
    }
    val trainSec = (System.nanoTime() - t0) / 1e9
    Bpe.saveVocab(spark, merges, vocabDir)
    val nTokens = Bpe.tokenSum(docs, merges)
    val encodeJson = if (!doEncode) "" else {
      val e0 = System.nanoTime()
      Bpe.encode(docs, merges)
        .write.mode("overwrite").format("noop").save()
      val encSec = (System.nanoTime() - e0) / 1e9
      s""","encode_sec":${String.format(java.util.Locale.ROOT, "%.3f",
        Double.box(encSec))}"""
    }
    def j(d: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    println(s"""{"docs":"$docsPath","n_docs":$nDocs,"trainer":"$trainer",""" +
      s""""n_distinct_words":$nWords,"merges":${merges.size},""" +
      s""""train_sec":${j(trainSec)},"corpus_tokens":$nTokens$encodeJson,""" +
      s""""vocab":"$vocabDir"}""")
    spark.stop()
  }
}
