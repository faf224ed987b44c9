package graft.config

import java.util.Base64
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.DocRoutePlan

class PlanCodecSpec extends AnyFunSuite {

  test("decodes YAML plan with anchors (reference topic.yaml grammar)") {
    val plan = PlanCodec.fromYaml(DocRoutePlan.yaml)
    assert(plan.spliters.size == 1)
    val s = plan.spliters.head
    assert(s.inputTopic == "documents")
    assert(s.actions == Map("matched" -> "t-matched", "unmatched" -> "t-unmatched", "debug" -> "t-debug"))
    assert(s.splits.size == 4)
    // anchor-reused extractor resolved
    assert(s.splits.head.extractor == Extractor("spark (query|stream)", useRegex = true))
    assert(s.splits.head.outputTopic.contains("t-spark"))
    assert(s.splits(1).action.contains("debug"))
    assert(!s.splits(1).extractor.useRegex) // use_regex defaults false
  }

  test("base64 env intake round-trips (SPLIT_CONF contract)") {
    val b64 = Base64.getEncoder.encodeToString(DocRoutePlan.yaml.getBytes("UTF-8"))
    val plan = PlanCodec.fromBase64(b64)
    assert(plan == PlanCodec.fromYaml(DocRoutePlan.yaml))
    val viaEnv = EnvConfig.fromEnv(Map("SPLIT_CONF" -> b64)).plan
    assert(viaEnv == plan)
  }

  test("leading comment + document marker parse (reference topic.yaml shape)") {
    val yaml =
      """#
        |---
        |spliters_templates:
        |  - input_topic: 'x'
        |    actions: {matched: 'm'}
        |    splits:
        |      - extractor: {pattern: 'p', use_regex: false}
        |""".stripMargin
    val plan = PlanCodec.fromYaml(yaml)
    assert(plan.spliters.head.inputTopic == "x")
    assert(plan.spliters.head.splits.head.extractor.pattern == "p")
  }

  test("unknown fields are ignored (reference ignores its own cloud: key)") {
    val yaml =
      """spliters_templates:
        |  - input_topic: 'x'
        |    cloud: [a, b]
        |    actions: {unmatched: 'u'}
        |    splits:
        |      - extractor: {pattern: 'p'}
        |""".stripMargin
    val plan = PlanCodec.fromYaml(yaml)
    assert(plan.spliters.head.inputTopic == "x")
  }

  test("resolution: explicit output_topic wins (R1 plumbing)") {
    val r = DocRoutePlan.resolved
    assert(r.splits(0).topic.contains("t-spark"))
  }

  test("resolution: action indirection (R3) and implicit matched (R4)") {
    val r = DocRoutePlan.resolved
    assert(r.splits(1).topic.contains("t-debug"))  // action: debug
    assert(r.splits(3).topic.contains("t-matched")) // no topic, no action
  }

  test("resolution: absent action key means drop (R5), not error") {
    val r = DocRoutePlan.resolved
    assert(r.splits(2).topic.isEmpty) // action: discard, not in actions
  }

  test("resolution: no matched key + no action + no topic means drop") {
    val s = Spliter("t", Map.empty, Seq(Split(Extractor("p"))))
    assert(PlanResolver.resolveSpliter(s).splits.head.topic.isEmpty)
    assert(PlanResolver.resolveSpliter(s).unmatchedTopic.isEmpty)
  }

  test("invalid regex fails fast at plan compile (vs lazily in reference)") {
    val s = Spliter("t", Map.empty,
      Seq(Split(Extractor("[unclosed", useRegex = true), outputTopic = Some("o"))))
    intercept[java.util.regex.PatternSyntaxException] {
      PlanResolver.resolveSpliter(s)
    }
  }
}
