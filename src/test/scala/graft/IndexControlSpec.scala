package graft

import org.apache.hadoop.fs.Path
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import graft.operators.{IndexControl, Opq, Pq, Snapshot}

/** The index control record (`_index.json`) round-trips bit-exact, and
  * every way it can be unreadable fails with one loud, path-naming
  * IllegalStateException. */
class IndexControlSpec extends SparkSpec {

  private val double: Gen[Double] = Gen.frequency(
    3 -> Gen.oneOf(0.0, -0.0, Double.MinPositiveValue,
      Math.nextDown(java.lang.Double.MIN_NORMAL), java.lang.Double.MIN_NORMAL,
      Double.MaxValue, -Double.MaxValue, 0.1 + 0.2, 1.0 / 3,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity),
    // centroid-scale values: most need 16-17 significant digits
    3 -> Gen.choose(-1.0, 1.0),
    2 -> Arbitrary.arbitrary[Double],
    // any bit pattern: subnormals, huge exponents, NaN payloads
    2 -> Arbitrary.arbitrary[Long].map(java.lang.Double.longBitsToDouble))

  private val long: Gen[Long] = Gen.frequency(
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L),
    3 -> Arbitrary.arbitrary[Long])

  private def matrix(rows: Int, cols: Int): Gen[Array[Array[Double]]] =
    Gen.listOfN(rows, Gen.listOfN(cols, double).map(_.toArray)).map(_.toArray)

  private val pqSpec: Gen[String] = for {
    sub <- Gen.choose(1, 3); m <- Gen.choose(1, 3); k <- Gen.choose(1, 4)
    books <- Gen.listOfN(m, matrix(k, sub))
  } yield Pq.spec(Pq.Codebooks(sub * m, books.toArray))

  private val opqSpec: Gen[String] =
    Gen.choose(1, 4).flatMap(d => matrix(d, d)).map(Opq.rotationSpec)

  private val control: Gen[IndexControl] = for {
    params <- Gen.mapOf(Gen.zip(Gen.oneOf(Gen.identifier, Gen.asciiPrintableStr), long))
    cents <- Gen.option(for {
      n <- Gen.choose(0, 6); d <- Gen.choose(0, 8); m <- matrix(n, d)
    } yield m.toSeq.map(_.toSeq))
    pq <- Gen.option(pqSpec)
    opq <- Gen.option(opqSpec)
  } yield IndexControl(params, cents, pq, opq)

  /** Doubles compared by their bits: -0.0 ≠ 0.0, NaN = NaN. */
  private def bits(c: IndexControl) =
    c.copy(centroids = None) ->
      c.centroids.map(_.map(_.map(java.lang.Double.doubleToLongBits)))

  /** The seeds whose generated record does NOT survive `write` followed
    * by [[IndexControl.read]] (a read that throws counts as a loss). */
  private def lostSeeds(tag: String, cases: Int)
                       (write: (String, IndexControl) => Unit): Seq[Long] = {
    val root = TempDirs.path(s"index-control-spec/$tag-${java.util.UUID.randomUUID()}")
    (0L until cases.toLong).filter { seed =>
      val c = control(Gen.Parameters.default, Seed(seed)).get
      val dir = s"$root/$seed"
      write(dir, c)
      scala.util.Try(IndexControl.read(spark, dir)).toOption.map(bits) !=
        Some(bits(c))
    }
  }

  test("property: write-then-read returns the record bit-exact; a %.15g writer fails it") {
    lostSeeds("exact", 200)((dir, c) => IndexControl.write(spark, dir, c)) shouldBe empty
    // the same property over a broken writer — doubles written with
    // 15 significant digits — must find counterexamples
    def g15(d: Double) = String.format(java.util.Locale.ROOT, "%.15g", Double.box(d)).toDouble
    val lossy = lostSeeds("lossy", 50) { (dir, c) =>
      IndexControl.write(spark, dir, c.copy(centroids = c.centroids.map(_.map(_.map(g15)))))
    }
    lossy should not be empty
  }

  test("a missing, truncated or malformed _index.json fails loudly, naming the path") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = TempDirs.path(s"index-control-spec/bad-${java.util.UUID.randomUUID()}")
    val file = new Path(dir, IndexControl.FileName)
    val missing = intercept[IllegalStateException](IndexControl.read(spark, dir))
    missing.getMessage should include(s"no readable ${IndexControl.FileName} under $dir")
    IndexControl.write(spark, dir, IndexControl(Map("n_cells" -> 2L, "dim" -> 2L),
      centroids = Some(Seq(Seq(0.25, -0.5), Seq(1.0, 0.0)))))
    val fs = file.getFileSystem(conf)
    val full = { val in = fs.open(file); try new String(in.readAllBytes(), "UTF-8") finally in.close() }
    for (bad <- Seq(full.take(full.length / 2), "", "[1, 2]", """{"params": {"dim": 1.5}}""",
                    """{"params": {}, "centroids": [["x"]]}""")) {
      Snapshot.atomicOverwrite(conf, file, bad)
      val ex = intercept[IllegalStateException](IndexControl.read(spark, dir))
      withClue(s"content '$bad': ") {
        ex.getMessage should include(file.toString)
        ex.getMessage should include("malformed index control record")
      }
    }
    // a byte-level truncation behind the filesystem's back is caught too
    Snapshot.atomicOverwrite(conf, file, full)
    val raw = new java.io.File(dir, IndexControl.FileName)
    java.nio.file.Files.write(raw.toPath, full.take(full.length / 2).getBytes("UTF-8"))
    intercept[IllegalStateException](IndexControl.read(spark, dir))
      .getMessage should include(file.toString)
  }
}
