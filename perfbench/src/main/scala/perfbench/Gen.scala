package perfbench

import graft.core.{PendingDoc, Span}
import graft.corpus.CorpusGen
import graft.corpus.CorpusGen.Rng
import java.nio.charset.StandardCharsets.UTF_8

/** Seeded workload inputs. Every byte derives from (seed, index), so one
  * seed names one input set exactly and any pass or process can regenerate
  * it. The program only ever sees what these functions return. */
object Gen {

  // ---- ingest_durable: CorpusGen roots with planted mentions -----------

  /** CorpusGen root `idx`, with an email, a phone number and an IBAN
    * appended to half of the plain-text roots. The unmodified corpus yields
    * no tags at all, which would leave the analysis aggregate idle. */
  def root(seed: Long, idx: Long): CorpusGen.GenDoc = {
    val g = CorpusGen.generate(seed, idx)
    if (g.format != "txt") g
    else {
      val rng = new Rng(seed * 0x2545f4914f6cdd1dL + idx)
      if (rng.nextInt(2) != 0) g
      else g.copy(bytes = g.bytes ++ mentionLine(rng, idx).getBytes(UTF_8))
    }
  }

  private def digits(rng: Rng, n: Int): String =
    (0 until n).map(_ => ('0' + rng.nextInt(10)).toChar).mkString

  private def mentionLine(rng: Rng, idx: Long): String = {
    val email = s"user$idx.${digits(rng, 3)}@example.org"
    val phone = s"+44 20 ${digits(rng, 4)} ${digits(rng, 4)}"
    val iban = s"GB${digits(rng, 2)}WEST${digits(rng, 14)}"
    s"\nContact $email or call $phone. Pay to IBAN $iban.\n"
  }

  /** The row `Sources.fromDirectory` yields for root `idx` once written as
    * a file directly under the input root: the id is the file name. */
  def filePending(seed: Long, idx: Long): PendingDoc = {
    val g = root(seed, idx)
    PendingDoc(g.file_name, "", Seq.empty, 0, g.file_name, "", g.bytes)
  }

  // ---- corpus_build: crawl-shaped documents with near-duplicates ------

  val Header = "subscribe to our newsletter today."
  val Footer = "copyright example site all rights reserved"

  final case class WebDoc(id: Long, text: String, spans: Seq[Span])

  private val stopwords = Array("the", "a", "and", "of", "to", "in", "is",
    "it", "that", "with", "for", "on")

  /** 2,048 distinct pronounceable words: two syllables for the first 256,
    * three for the rest. */
  private val lexicon: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve",
      "da", "go", "li", "mu", "sa", "te", "zo")
    Array.tabulate(2048) { i =>
      syl(i & 15) + syl((i >> 4) & 15) + (if (i >= 256) syl(i >> 8) else "")
    }
  }

  private def mix(seed: Long, idx: Long): Long = seed ^ (idx * 0x9e3779b97f4a7c15L)

  /** Unique body of an even-indexed document: 30 to ~3,000 tokens, long
    * tailed, about a third of them stop words, a full stop every ~12. */
  private def body(seed: Long, idx: Long): Vector[String] = {
    val rng = new Rng(mix(seed, idx))
    val n = 30 + math.min(CorpusGen.tailWordCount(rng), 3000)
    Vector.tabulate(n) { i =>
      val w =
        if (rng.nextInt(3) == 0) stopwords(rng.nextInt(stopwords.length))
        else lexicon(rng.nextInt(lexicon.length))
      if (i % 12 == 11) w + "." else w
    }
  }

  private def spansOf(idx: Long, toks: Vector[String]): Seq[Span] = {
    val b = Vector.newBuilder[Span]
    b += Span("text", Header, "", 0)
    toks.grouped(12).zipWithIndex.foreach { case (g, c) =>
      b += Span("text", g.mkString(" "), "", c * 12)
      if (c % 5 == 4) b += Span("image", "", s"m$idx-$c", c * 12)
    }
    if (idx % 4 == 0) b += Span("text", Footer, "", toks.length)
    b.result()
  }

  private def textOf(spans: Seq[Span]): String =
    spans.iterator.filter(_.kind == "text").map(_.text).mkString(" ")

  /** Document `idx`: even ids carry a unique body; each odd id copies a
    * nearby even one — a third of them byte-for-byte, the rest as a
    * token-drop mutant with a salt token (a near-duplicate). */
  def webDoc(seed: Long, idx: Long): WebDoc = {
    if (idx % 2 == 0) {
      val spans = spansOf(idx, body(seed, idx))
      WebDoc(idx, textOf(spans), spans)
    } else {
      val rng = new Rng(mix(seed, idx) + 1)
      val src = idx - 1 - 2L * rng.nextInt(math.min(idx / 2 + 1, 50L).toInt)
      if (rng.nextInt(3) == 0) webDoc(seed, src).copy(id = idx)
      else {
        val k = 9 + (idx % 7).toInt
        val toks = body(seed, src).zipWithIndex
          .collect { case (w, i) if i % k != 0 => w } :+ s"u${idx}x"
        val spans = spansOf(idx, toks)
        WebDoc(idx, textOf(spans), spans)
      }
    }
  }
}
