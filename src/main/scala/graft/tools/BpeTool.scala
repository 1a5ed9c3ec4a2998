package graft.tools

import graft.functions.Bpe

/** BPE artifact utilities.
  *
  *  - `export <outDir>`: train a small deterministic encoder, write it
  *    in the PUBLISHED GPT-2 format (merges.txt + vocab.json) plus a
  *    fixture.tsv of (text \t token ids) — the committed
  *    src/test/resources/bpe/ artifacts BpeVocabSpec pins, so the
  *    format reader is gated against bytes that live in git, not
  *    against itself.
  *  - `profile <sfDir>`: train-time rows for BASELINE.md — the
  *    incremental pair-count trainer vs the r18 full-recount form at
  *    256 merges, and the incremental form alone at realistic merge
  *    counts the naive form could not reach.
  */
object BpeTool {

  /** Deterministic export sample: diverse enough that merges cover
    * spaces, contractions, digits and unicode; tiny enough to read in a
    * code review.
    */
  private val ExportSample: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quiet brown bear walks over the lazy river",
    "it's the thought that counts, isn't it?",
    "training data pipelines count tokens, not words",
    "token budgets transfer when the tokenizer is the model's",
    "naïve café — déjà vu, 42 times out of 100",
    "the the the and and and of of of to to to",
    "2026-08-16 12:00:00 +0000 logline number 12345",
    "whitespace   runs\tand\nnewlines stay intact",
    "ひらがな and 漢字 mixed with english text")

  private val FixtureTexts: Seq[String] = Seq(
    "the quick brown fox",
    "it's 2026 — naïve café!",
    "  leading and trailing  ",
    "tokens, tokens, tokens: 12345",
    "ひらがな mixed")

  def main(args: Array[String]): Unit = args(0) match {
    case "export" =>
      val out = java.nio.file.Paths.get(args(1))
      java.nio.file.Files.createDirectories(out)
      val merges = Bpe.train(ExportSample, 96)
      val enc = new Bpe.Encoder(merges)
      def write(name: String, text: String): Unit =
        java.nio.file.Files.write(out.resolve(name), text.getBytes("UTF-8"))
      write("mini_merges.txt", Bpe.saveMerges(merges))
      write("mini_vocab.json", Bpe.saveVocabJson(merges))
      write("fixture.tsv", FixtureTexts.map(t =>
        t.replace("\t", "\\t") + "\t" + enc.encode(t).mkString(" "))
        .mkString("", "\n", "\n"))
      println(s"exported ${merges.length} merges, vocab ${enc.vocabSize}, " +
        s"${FixtureTexts.size} fixture rows to $out")

    case "profile" =>
      val spark = graft.Main.session()
      import org.apache.spark.sql.functions._
      val sample = graft.Tables.documents(spark, args(1))
        .select(col("text"), col("doc_id"))
        .orderBy(xxhash64(col("doc_id"))).limit(graft.queries.Tokenize.TrainSampleDocs)
        .collect().map(_.getString(0)).toSeq
      val bytes = sample.map(_.getBytes("UTF-8").length.toLong).sum
      println(s"sample: ${sample.size} docs, $bytes bytes")
      def time[T](what: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        println(f"$what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val a = time("naive 256 merges")(Bpe.trainNaive(sample, 256))
      val b = time("incremental 256 merges")(Bpe.train(sample, 256))
      require(a.toSeq == b.toSeq, "trainer forms diverged at 256 merges")
      Seq(1024, 4096, 16384).foreach { m =>
        val got = time(s"incremental $m merges")(Bpe.train(sample, m))
        println(s"  (stopped at ${got.length} merges)")
      }
      spark.stop()

    case "profile-synth" =>
      // trainer-complexity benchmark: the corpus mode above early-stops
      // when the (templated) synthetic corpus runs out of repeating
      // pairs, so the naive-vs-incremental separation needs a sample
      // with enough DISTINCT pieces to sustain realistic merge counts.
      // Deterministic hash-derived pseudo-words, Zipf-ish frequencies.
      val nWords = args(1).toInt
      val md = java.security.MessageDigest.getInstance("MD5")
      def word(i: Int): String = {
        val h = md.digest(s"w$i".getBytes("UTF-8"))
        val len = 3 + (h(0) & 0x7f) % 10
        (0 until len).map(j => ('a' + ((h(1 + j % 14) & 0x7f) % 26)).toChar)
          .mkString
      }
      val texts = (0 until nWords).map { i =>
        val freq = math.max(1, nWords / (i + 1) / 10) // Zipf-ish
        (word(i) + " ") * math.min(freq, 50)
      }
      val bytes = texts.map(_.length.toLong).sum
      println(s"synth sample: $nWords distinct words, $bytes bytes")
      def time2[T](what: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        println(f"$what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val a2 = time2("naive 1024 merges")(Bpe.trainNaive(texts, 1024))
      val b2 = time2("incremental 1024 merges")(Bpe.train(texts, 1024))
      require(a2.toSeq == b2.toSeq, "trainer forms diverged at 1024 merges")
      Seq(8192, 32768).foreach { m =>
        val got = time2(s"incremental $m merges")(Bpe.train(texts, m))
        println(s"  (stopped at ${got.length} merges)")
      }

    case "profile-corpus" =>
      // the corpus-true feed's two costs (VERDICT r19 next #6): the ONE
      // distributed pieces-explode → groupBy → count pass (the only
      // corpus-sized stage of a training run), and the driver trainer
      // over the collected vocab-sized table at realistic merge counts
      val spark = graft.Main.session()
      def time3[T](what: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        println(f"$what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val counts = time3("distributed piece-count pass")(
        graft.queries.Tokenize.corpusPieceCounts(spark, args(1)))
      println(s"  (${counts.length} distinct pieces, " +
        s"${counts.map(_._2).sum} occurrences)")
      Seq(256, 32768).foreach { m =>
        val got = time3(s"trainFromCounts $m merges")(
          Bpe.trainFromCounts(counts, m))
        println(s"  (stopped at ${got.length} merges)")
      }
      spark.stop()

    case other =>
      sys.error(s"unknown mode '$other' (export|profile|profile-synth|profile-corpus)")
  }
}
