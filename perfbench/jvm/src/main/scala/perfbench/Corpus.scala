package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A generated text corpus together with its exact ground truth.
  *
  * The truth is kept while the text is written, token by token, so it
  * never goes through the engine's tokenizer: a tokenizer bug shows as
  * a mismatch instead of being reproduced by the check.
  */
final case class Corpus(
    files: Vector[(String, String)],
    wordCounts: Map[String, Long],
    wordDocs: Map[String, Set[String]],
    fileBytes: Map[String, Int]) {

  def tokens: Long = wordCounts.valuesIterator.sum
  def bytes: Long = fileBytes.valuesIterator.map(_.toLong).sum

  def write(dir: Path): Seq[String] = {
    Files.createDirectories(dir)
    files.map { case (name, text) =>
      Files.write(dir.resolve(name), text.getBytes(UTF_8)).toString
    }
  }

  /** The `key value` lines each MR app must produce, keyed by key. */
  def expected(app: String): Map[String, String] = app match {
    case "wc" => wordCounts.map { case (w, n) => w -> n.toString }
    case "indexer" => wordDocs.map { case (w, docs) =>
      w -> s"${docs.size} ${docs.toArray.sorted.mkString(",")}" }
    case "crashpayload" =>
      val names = files.map(_._1)
      def joined(xs: Seq[String]) = xs.sorted.mkString(" ")
      Map(
        "a" -> joined(names),
        "b" -> joined(names.map(_.getBytes(UTF_8).length.toString)),
        "c" -> joined(names.map(n => fileBytes(n).toString)),
        "d" -> joined(names.map(_ => "xyzzy")))
  }
}

object Corpus {

  // Word letters: ASCII in both cases plus Latin-1, Greek, Cyrillic and
  // CJK letters, all in the Unicode Letter category the MR tokenizer
  // keeps. Multi-byte letters make UTF-8 byte counts differ from
  // character counts, which the crash payload's length keys depend on.
  private val letters: IndexedSeq[Char] =
    ("abcdefghijklmnopqrstuvwxyz" * 3 + "ABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      "éèñüößøçåæ" + "αβγδλπσω" + "джзлфяш" + "中文字").toIndexedSeq

  // Separators hold no letters: spaces, punctuation, digits and
  // typographic marks, so every run of letters is exactly one token.
  private val separators: IndexedSeq[String] = IndexedSeq(
    " ", " ", " ", " ", " ", " ", ", ", ". ", "\n", "\n\n", "; ", " — ",
    " 1984 ", "(3)", "\t", "'", "-", "…", " “", "” ", "42", "_", "/")

  /** A Zipf-distributed corpus of `fileCount` files holding `tokens`
    * tokens in total, drawn from `vocab` distinct words. File sizes
    * vary by a factor of up to seven. The same arguments always give
    * the same corpus.
    */
  def generate(seed: Long, fileCount: Int, tokens: Int, vocab: Int,
      zipfExponent: Double = 1.07): Corpus = {
    require(fileCount > 0 && tokens >= fileCount && vocab > 0)
    val rng = new SplittableRandom(seed)

    val words = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < vocab) {
        val len = 1 + rng.nextInt(10)
        val sb = new StringBuilder
        for (_ <- 0 until len) sb += letters(rng.nextInt(letters.size))
        seen += sb.result()
      }
      seen.toVector
    }
    val cumulative = {
      val c = new Array[Double](vocab)
      var acc = 0.0
      for (r <- 0 until vocab) {
        acc += 1.0 / math.pow(r + 1, zipfExponent)
        c(r) = acc
      }
      c
    }
    def drawWord(): String = {
      val u = rng.nextDouble() * cumulative(vocab - 1)
      val i = java.util.Arrays.binarySearch(cumulative, u)
      words(if (i >= 0) i else -i - 1)
    }

    val weights = Vector.fill(fileCount)(0.25 + 1.5 * rng.nextDouble())
    val perFile = {
      val raw = weights.map(w => (tokens * w / weights.sum).toInt.max(1))
      raw.updated(0, raw.head + tokens - raw.sum)
    }

    val counts = mutable.HashMap.empty[String, Long]
    val docs = mutable.HashMap.empty[String, mutable.Set[String]]
    val bytes = mutable.HashMap.empty[String, Int]
    val files = perFile.zipWithIndex.map { case (n, i) =>
      val name = f"part-$i%03d-${rng.nextInt(1 << 16)}%04x.txt"
      val sb = new StringBuilder
      if (rng.nextInt(4) == 0) sb ++= separators(rng.nextInt(separators.size))
      for (_ <- 0 until n) {
        val w = drawWord()
        sb ++= w
        sb ++= separators(rng.nextInt(separators.size))
        counts(w) = counts.getOrElse(w, 0L) + 1
        docs.getOrElseUpdate(w, mutable.Set.empty) += name
      }
      val text = sb.result()
      bytes(name) = text.getBytes(UTF_8).length
      name -> text
    }
    Corpus(files, counts.toMap, docs.view.mapValues(_.toSet).toMap,
      bytes.toMap)
  }

  /** Reads a `key value` text output directory (the part files of
    * `MRJob.writeText`) into a key -> value map. A key seen twice maps
    * to a marker that can never equal an expected value.
    */
  def readOutput(dir: Path): Map[String, String] = {
    val out = mutable.HashMap.empty[String, String]
    val parts = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toVector
    for (p <- parts; line <- Files.readAllLines(p, UTF_8).asScala
         if line.nonEmpty) {
      val sp = line.indexOf(' ')
      val (k, v) = if (sp < 0) (line, "") else (line.take(sp), line.drop(sp + 1))
      out(k) = if (out.contains(k)) "\u0000duplicate key" else v
    }
    out.toMap
  }

  /** Describes how `actual` differs from `expected`, or None when they
    * are equal.
    */
  def diff(expected: Map[String, String],
      actual: Map[String, String]): Option[String] = {
    val missing = expected.keySet -- actual.keySet
    val extra = actual.keySet -- expected.keySet
    val wrong = expected.keySet.intersect(actual.keySet)
      .filter(k => expected(k) != actual(k))
    if (missing.isEmpty && extra.isEmpty && wrong.isEmpty) None
    else Some(s"${missing.size} keys missing, ${extra.size} unexpected, " +
      s"${wrong.size} wrong" + wrong.headOption.fold("")(k =>
        s" (e.g. '$k': expected '${expected(k).take(60)}', " +
          s"got '${actual(k).take(60)}')"))
  }
}
