package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The pipeline tier's stage selection and its JSON line. No Spark session:
  * both are pure functions of their inputs. */
class BenchSpec extends AnyFunSuite {
  import Bench.{AllStages, OfficialStages, WitnessStages, selects}

  private def selected(tokens: String*) = AllStages.filter(selects(tokens, _))

  test("unset selects exactly the official list and no witness stage") {
    assert(selected() == OfficialStages)
    assert(OfficialStages.intersect(WitnessStages).isEmpty)
  }

  test("exact_substr_winnowed selects both passes") {
    assert(selected("exact_substr_winnowed").toSet == Set("exact_substr_winnowed_2m_slice",
      "exact_substr_winnowed_pass0", "exact_substr_winnowed_pass1"))
  }

  test("exact_substr_winnowed_pass0 selects only pass 0") {
    assert(selected("exact_substr_winnowed_pass0") == Seq("exact_substr_winnowed_pass0"))
  }

  test("ann_ivfpq_indexed does not select ann_ivfpq") {
    assert(!selects(Seq("ann_ivfpq_indexed"), "ann_ivfpq"))
    assert(selected("ann_ivfpq_indexed") == Seq("ann_ivfpq_indexed"))
  }

  test("the scale-witness tokens select exactly the named stages") {
    val witness = Seq("dedup_incremental_10pct", "minhash_lsh_neardups",
      "exact_substr_winnowed_pass0", "exact_substr_winnowed_pass1")
    assert(selected(witness: _*).toSet == witness.toSet)
  }

  test("pipelineJson parses, escapes failure messages, and carries no scheduler keys") {
    val msg = "failed: java.io.IOException: \"disk\" at C:\\tmp\nline two"
    val out = Bench.PipeOut(Map("ann_ivf" -> 1.5, "bm25_topk" -> 0.25),
      Map("ann_ivf@10" -> 1.0), Map("bpe_group" -> msg, "pii_redact" -> "skipped_deadline"))
    val node = new ObjectMapper().readTree(Bench.pipelineJson(3, out))
    assert(node.get("tier").asText == "pipeline")
    assert(node.get("pipeline_scale").asInt == 3)
    assert(node.get("pipeline_sec").get("ann_ivf").asDouble == 1.5)
    assert(node.get("pipeline_sec").get("bm25_topk").asDouble == 0.25)
    assert(node.get("pipeline_recall").get("ann_ivf@10").asDouble == 1.0)
    assert(node.get("pipeline_failed").get("bpe_group").asText == msg.replace('\n', ' '))
    assert(node.get("pipeline_failed").get("pii_redact").asText == "skipped_deadline")
    def keys(n: JsonNode): Seq[String] = n.properties.asScala.toSeq
      .flatMap(e => e.getKey +: keys(e.getValue))
    val removed = Set("solo_hint_sec", "breadth_in_run_sec", "pole_priority",
      "contention_factor", "contention_tail")
    assert(keys(node).toSet.intersect(removed).isEmpty)
  }
}
