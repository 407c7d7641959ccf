package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.analytics.ScaleQueries
import graft.scale.{Bounded, Similarity}

/** The certified-bounded gate: its switch contract, the degenerate
  * inputs every gated site must survive on both arms, and the guard
  * that keeps it the only fast-path knob.
  */
class BoundedSpec extends AnyFunSuite {
  lazy val spark = Spark.session
  val sf = "/root/testdata/sf0.001"

  test("switch off: the gate refuses without evaluating the certificate") {
    Spark.withFallback {
      assert(!Bounded.fits(spark, Long.MaxValue)(
        throw new IllegalStateException("certificate evaluated with the switch off")))
      assert(!Bounded.fits(spark, Bounded.CellTableRows)(0L))
    }
  }

  test("switch on: a certificate within budget passes, one past it does not") {
    assert(Bounded.fits(spark, 0L)(0L))
    assert(!Bounded.fits(spark, 0L)(1L))
  }

  test("nearDupPairs: empty and plane-less inputs give equal pairs on both arms") {
    // no plane row matches ⇒ every vector lands in ONE bucket on both
    // arms (Σ over no bits = 0; concat of no bits = "")
    val emb = Tables.embeddings(spark, sf)
    val noPlanes = emb.filter(!col("vec_id").isInCollection(ScaleQueries.PlaneIds))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Similarity.nearDupPairs(df, ScaleQueries.PlaneIds, 0.4)
        .collect().map(_.toSeq).toSet
    for ((name, df) <- Seq("empty" -> emb.limit(0), "plane-less" -> noPlanes)) {
      val fast = pairs(df)
      val fallback = Spark.withFallback(pairs(df))
      assert(fast == fallback, s"$name: kernel ${fast.size} pairs, join ${fallback.size}")
    }
    assert(pairs(noPlanes).nonEmpty)
  }

  test("engine sources read exactly one spark.graft conf: the fast-path switch") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val key = """spark\.graft\.[A-Za-z.]+""".r
    val found = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => key.findAllIn(Files.readString(p)).map(_ -> root.relativize(p)))
      .toSeq
    assert(found.map(_._1).toSet == Set(Bounded.Switch),
      s"per-site fast-path confs are back: ${found.mkString(", ")}")
  }
}
