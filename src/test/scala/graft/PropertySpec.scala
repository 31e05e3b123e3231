package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.etl.Clean
import graft.functions.CpfClean

/** Property-based invariants (SURVEY §5.4): clean idempotence, dedup
  * key-uniqueness, unpivot row-count identity. Generators run through
  * REAL Spark plans (small local frames) so the properties hold for the
  * executed expressions, not a reimplementation. */
class PropertySpec extends SparkTestBase {

  /** Minimal forAll over seeded samples (the scalatest-scalacheck
    * bridge artifact is not in the offline cache). Deterministic: seeds
    * 0..9. */
  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (0 until 10).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private val weirdString: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.listOf(Gen.oneOf('0' to '9')).map(_.mkString("", ".", "-")),
    Gen.const("591.267.843-19"),
    Gen.const("+55 (71) 98765-4321"),
    Gen.const("çãé.12/34"),
    Gen.const(""),
  )

  test("digit-clean is idempotent and digits-only (clean∘clean = clean)") {
    import spark.implicits._
    forAll(Gen.listOfN(20, weirdString)) { xs =>
      if (xs.nonEmpty) {
        val rows = xs.toDF("s").select(
          CpfClean.cpfClean(col("s")).as("once"),
          regexp_replace(col("s"), "[^0-9]", "").as("regexp")).collect()
        // clean∘clean runs as its own plan over the collected output: in
        // one plan CpfCleanIdempotence would fold it to clean unevaluated
        val twice = rows.map(_.getString(0)).toSeq.toDF("once")
          .select(CpfClean.cpfClean(col("once"))).collect().map(_.getString(0))
        rows.zip(twice).foreach { case (r, t) =>
          assert(r.getString(0) == t, "idempotence")
          assert(r.getString(0) == r.getString(1), "native ≡ regexp form")
          assert(r.getString(0).forall(_.isDigit))
        }
      }
    }
  }

  test("deterministic dedup yields unique keys and picks a stable survivor") {
    import spark.implicits._
    val rowGen = for {
      key <- Gen.oneOf("a", "b", "c", "d")
      name <- Gen.alphaStr.map(_.take(8))
      day <- Gen.choose(1, 28)
    } yield (key, name, f"2023-01-$day%02d")
    forAll(Gen.listOfN(30, rowGen)) { xs =>
      if (xs.nonEmpty) {
        val df = xs.toDF("cpf_cnpj", "Nome_Razão_Social", "d")
          .select(col("cpf_cnpj"), col("Nome_Razão_Social"),
            col("d").cast("timestamp").as("Data_Cadastro_cliente"),
            lit(null).cast("string").as("Emails"))
        val out1 = Clean.dedupDeterministic(df).collect().sortBy(_.getString(0))
        val out2 = Clean.dedupDeterministic(df.repartition(7)).collect().sortBy(_.getString(0))
        // key-uniqueness
        assert(out1.map(_.getString(0)).distinct.length == out1.length)
        // partitioning-independent survivor
        assert(out1.map(r => (r.getString(0), r.getString(1), r.getTimestamp(2))).toSeq ==
          out2.map(r => (r.getString(0), r.getString(1), r.getTimestamp(2))).toSeq)
      }
    }
  }

  test("minhash signature distributes over set union (the mergeability LSH relies on)") {
    import spark.implicits._
    val shingle: Gen[Long] = Gen.chooseNum(0L, graft.dedup.Dedup.MinhashP - 1)
    val setsGen = for {
      a <- Gen.listOfN(12, shingle); b <- Gen.listOfN(12, shingle)
    } yield (a, b)
    forAll(setsGen) { case (a, b) =>
      val df = Seq((a, b, a ++ b)).toDF("a", "b", "ab")
      val r = df.select(
        graft.dedup.Dedup.minhashSignature(col("ab"), 8).as("whole"),
        zip_with(
          graft.dedup.Dedup.minhashSignature(col("a"), 8),
          graft.dedup.Dedup.minhashSignature(col("b"), 8),
          (x, y) => least(x, y)).as("merged")).collect().head
      // sig(A ∪ B) = elementwise min(sig(A), sig(B)) — exact integers;
      // this is what makes minhash sketches mergeable across partitions
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("simhash of a single token is that token's 32-bit hash (majority of 1)") {
    import spark.implicits._
    val h: Gen[Long] = Gen.chooseNum(0L, (1L << 32) - 1)
    forAll(Gen.listOfN(8, h)) { hs =>
      val df = hs.map(v => Tuple1(Seq(v))).toDF("vs")
      val rows = df.select(col("vs"),
        graft.dedup.Dedup.simhash32(col("vs"), size(col("vs"))).as("sim")).collect()
      rows.foreach { r =>
        assert(r.getLong(1) == r.getSeq[Long](0).head)
      }
    }
  }

  test("unpivot row-count identity: contact rows == non-null contact cells") {
    import spark.implicits._
    val cell: Gen[Option[String]] = Gen.option(Gen.alphaNumStr.map(_.take(6)))
    val rowGen = for { t <- cell; c <- cell; e <- cell } yield (t, c, e)
    forAll(Gen.listOfN(25, rowGen)) { xs =>
      if (xs.nonEmpty) {
        val df = xs.zipWithIndex
          .map { case ((t, c, e), i) => (i.toLong, t.orNull, c.orNull, e.orNull) }
          .toDF("id", "Telefones", "Celulares", "Emails")
        val unpivoted = df.select(col("id"),
          expr("stack(3, 1, Telefones, 2, Celulares, 3, Emails)")
            .as(Seq("tipo", "contato")))
          .filter(col("contato").isNotNull)
        val expected = xs.map(r => r._1.size + r._2.size + r._3.size).sum
        assert(unpivoted.count() == expected)
      }
    }
  }
}
