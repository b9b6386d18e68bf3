package graft

import graft.operators.Tokenizers
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks of the reference tokenizer semantics
  * (Python str.isalpha ≙ Unicode letter; SURVEY.md §5.2). Pure Scala
  * twin — no Spark session needed, so these run in milliseconds and
  * cover the same function the column expression mirrors
  * (TokenizeSpec proves column ≡ Scala twin on fixtures). */
class TokenizeProps extends AnyFunSuite {

  private val anyText: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaChar, Gen.numChar, Gen.oneOf(' ', '\t', '\n', '.', ',', '!'),
    Gen.oneOf('é', 'ã', 'ß', 'ç', 'Ü'), Gen.asciiPrintableChar
  )).map(_.mkString)

  private def samples(g: Gen[String], n: Int = 300): Seq[String] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("tokens are nonempty, lowercase, letters-only") {
    samples(anyText).foreach { t =>
      Tokenizers.Letters.words(t).foreach { tok =>
        assert(tok.nonEmpty, s"input: $t")
        assert(tok == tok.toLowerCase, s"input: $t")
        assert(tok.forall(_.isLetter), s"input: $t")
      }
    }
  }

  test("token mass is preserved under document concatenation") {
    val xs = samples(anyText)
    xs.zip(xs.reverse).foreach { case (a, b) =>
      val joined = Tokenizers.Letters.words(a + " " + b)
      val parts = Tokenizers.Letters.words(a) ++ Tokenizers.Letters.words(b)
      assert(joined.sorted == parts.sorted, s"inputs: '$a' + '$b'")
    }
  }

  test("tokenization is idempotent on its own output") {
    samples(anyText).foreach { t =>
      val once = Tokenizers.Letters.words(t)
      assert(Tokenizers.Letters.words(once.mkString(" ")) == once, s"input: $t")
    }
  }

  test("non-letter characters never survive") {
    val junk = Gen.listOf(Gen.oneOf('0', '9', '!', ' ', '_', '%')).map(_.mkString)
    samples(junk).foreach { t =>
      assert(Tokenizers.Letters.words(t).isEmpty, s"input: $t")
    }
  }
}
