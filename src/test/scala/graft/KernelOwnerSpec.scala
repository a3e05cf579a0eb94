package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Each kernel step of `graft.engine.ml` is written once: the
  * exact-Jaccard tail of `Dedup`, the label-size probe of the
  * two-regime candidate split and the probe-cosine scoring of
  * `Similarity`; and `Dedup` has a single prefix order. */
class KernelOwnerSpec extends AnyFunSuite {

  /** How often `needle` occurs, as written, in `engine/ml/<file>`. */
  private def occurrences(file: String, needle: String): Int = {
    val text = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/engine/ml", file)), UTF_8)
    text.split(java.util.regex.Pattern.quote(needle), -1).length - 1
  }

  test("Dedup has one exact-Jaccard tail and no document-frequency order") {
    assert(occurrences("Dedup.scala", "graft_intersect_count") === 1)
    assert(occurrences("Dedup.scala", "freqOrdered") === 0)
  }

  test("Similarity sizes labels once and scores probes once") {
    assert(occurrences("Similarity.scala", """.as("label_n")""") === 1)
    assert(occurrences("Similarity.scala",
      "graft_cosine(probe_emb, embedding)") === 1)
  }
}
