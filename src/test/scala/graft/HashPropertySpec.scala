package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ParseTurn

/** Generative properties over the pure expression kernels (no Spark
  * session — these run the same static methods the generated code calls),
  * sampled from seeded ScalaCheck generators. Generalizes the reference's
  * table-driven renderer tests (transformer_test.go:159-220) into
  * law-style checks.
  */
class HashPropertySpec extends AnyFunSuite {

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)

  private def u8(s: String) = UTF8String.fromString(s)

  test("MinKAggregator laws: sorted-unique ≤k buffer, order/split-invariant, equals brute-force k smallest distinct") {
    val agg = new graft.functions.MinKAggregator(8)
    val longs = Gen.listOf(Gen.chooseNum(0L, 50L)) // small domain forces dups
    sample(Gen.zip(longs, Gen.chooseNum(0, 10)), 300).foreach {
      case (xs, cut) =>
        val expected = xs.distinct.sorted.take(8)
        // single reduce chain
        val direct = xs.foldLeft(agg.zero)(agg.reduce)
        assert(direct == expected, s"direct on $xs")
        // arbitrary split point, merged partials — the partial+final path
        val (a, b) = xs.splitAt(math.min(cut, xs.length))
        val merged = agg.merge(
          a.foldLeft(agg.zero)(agg.reduce), b.foldLeft(agg.zero)(agg.reduce))
        assert(merged == expected, s"merge split@$cut on $xs")
        // shuffled arrival order changes nothing
        val shuffled = new scala.util.Random(xs.length)
          .shuffle(xs).foldLeft(agg.zero)(agg.reduce)
        assert(shuffled == expected, s"shuffle on $xs")
        // invariant: buffer always sorted, distinct, bounded
        assert(direct.length <= 8 && direct == direct.distinct.sorted)
    }
  }

  test("ParseTurn.parse: grammar round-trip for op/ns/payload triples") {
    val ident = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    val gen = for {
      o <- Gen.oneOf("INS", "UPD", "DEL", "SYS")
      db <- ident; tbl <- ident; pl <- word
    } yield (o, db, tbl, pl)
    sample(gen, 300).foreach { case (o, db, tbl, pl) =>
      val r = ParseTurn.parse(u8(s"$o $db.$tbl $pl"))
      assert(r.getUTF8String(0).toString == o)
      assert(r.getUTF8String(1).toString == db)
      assert(r.getUTF8String(2).toString == tbl)
      assert(r.getUTF8String(3).toString == pl)
    }
  }
}
