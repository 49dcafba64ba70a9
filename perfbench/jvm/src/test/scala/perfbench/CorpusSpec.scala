package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {

  private def gen(seed: Long) = Corpus.generate(seed, fileCount = 5,
    tokens = 5000, vocab = 400)

  test("the same seed gives the same corpus, another seed another") {
    assert(gen(7) == gen(7))
    assert(gen(7).files != gen(8).files)
  }

  test("ground truth matches an independent tokenization of the text") {
    val c = gen(3)
    assert(c.tokens == 5000)
    assert(c.files.map(_._1).distinct.size == 5)
    // split on anything that is not a letter, as the reference's wc does
    val tokens = c.files.flatMap { case (name, text) =>
      text.split("[^\\p{L}]+").filter(_.nonEmpty).map(_ -> name) }
    assert(tokens.groupBy(_._1).map { case (w, ts) => w -> ts.size.toLong } ==
      c.wordCounts)
    assert(tokens.groupBy(_._1).map { case (w, ts) => w -> ts.map(_._2).toSet } ==
      c.wordDocs)
    c.files.foreach { case (name, text) =>
      assert(c.fileBytes(name) == text.getBytes(UTF_8).length) }
  }

  test("the corpus has non-ASCII words, Zipf skew and varied file sizes") {
    val c = Corpus.generate(1, fileCount = 8, tokens = 50000, vocab = 5000)
    assert(c.wordCounts.keys.exists(_.exists(_ > 127)))
    assert(c.bytes > c.files.map(_._2.length).sum) // multi-byte letters
    val counts = c.wordCounts.values.toSeq.sorted.reverse
    assert(counts.head > 50 * counts(counts.size / 2))
    val sizes = c.fileBytes.values
    assert(sizes.max > 2 * sizes.min)
  }

  test("an output that matches the ground truth passes, a corrupted one fails") {
    val c = gen(5)
    val dir = Files.createTempDirectory("perfbench-corpus-spec")
    def write(lines: Iterable[String]): Unit =
      Files.write(dir.resolve("part-00000.txt"),
        lines.mkString("", "\n", "\n").getBytes(UTF_8))
    for (app <- Seq("wc", "indexer", "crashpayload")) {
      val expected = c.expected(app)
      write(expected.map { case (k, v) => s"$k $v" })
      assert(Corpus.diff(expected, Corpus.readOutput(dir)).isEmpty, app)

      val (k, v) = expected.head
      write(expected.updated(k, v + "x").map { case (k, v) => s"$k $v" })
      assert(Corpus.diff(expected, Corpus.readOutput(dir)).exists(_.contains("1 wrong")), app)

      write(expected.removed(k).map { case (k, v) => s"$k $v" })
      assert(Corpus.diff(expected, Corpus.readOutput(dir)).exists(_.contains("1 keys missing")), app)

      write(expected.map { case (k, v) => s"$k $v" } ++ Seq(s"$k $v"))
      assert(Corpus.diff(expected, Corpus.readOutput(dir)).nonEmpty, s"$app duplicate")
    }
  }

  test("the crash payload expectation follows the reference's byte lengths") {
    val c = gen(9)
    val e = c.expected("crashpayload")
    assert(e("d") == Seq.fill(5)("xyzzy").mkString(" "))
    assert(e("c").split(" ").map(_.toInt).sorted.toSeq ==
      c.fileBytes.values.toSeq.sorted)
    assert(e("a").split(" ").toSeq == c.files.map(_._1).sorted)
  }
}
