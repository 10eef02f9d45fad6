package perfbench

import scala.jdk.CollectionConverters._

/** `perfbench/spec.json`, the one list of metrics, units, bounds and the
  * latency limit (BENCHMARK.json is generated from it). */
object Spec {
  private lazy val root = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File("perfbench/spec.json"))

  /** Every per-layer metric the traced run reports, with its unit. */
  lazy val perLayer: Seq[(String, String)] =
    root.get("per_layer").elements().asScala
      .map(n => n.get("name").asText -> n.get("unit").asText).toSeq

  /** The tail-lag limit behind live-tail's sustained rate. */
  lazy val latencyLimitMs: Double = root.get("latency_limit_ms").asDouble
}
