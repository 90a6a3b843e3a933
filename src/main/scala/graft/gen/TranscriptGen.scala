package graft.gen

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.Turn

/** Deterministic, distributed transcripts generator (FIXTURES.md §1).
  *
  * Scale-first design: the generator is a pure function
  * `(convIdx, config) => Seq[Turn]` driven by counter-based hashing
  * (splitmix64), so `spark.range(nConvs).flatMap(turnsFor)` generates any
  * number of conversations fully in parallel with NO driver-side loop, no
  * shared RNG state, and bit-identical output at any parallelism level.
  * That last property is what makes the two-parallelism scaling benchmark
  * (BASELINE.md) an apples-to-apples comparison.
  *
  * Conversation lengths are heavy-tailed (bounded power law) plus an
  * optional set of explicit "hot" conversations to exercise skew handling;
  * roles follow the user -> [tool -> ] assistant cycle; `ts` is strictly
  * increasing in `turn_idx` within a conversation (the "stable turn
  * ordering" invariant of BASELINE.json.input_hint); `text` embeds a
  * deterministic temperature random walk (`temp=XX.X`) mirroring the
  * reference's RandomWalkTempSimulator
  * (`/root/reference/examples/temp_monitor_flow.py:21-56`: steps
  * {-2,-1,0,1,2} from 98.0) so CEP handler-equivalence tests have a
  * numeric payload to classify.
  */
object TranscriptGen {

  final case class Config(
      nConvs: Long,
      seed: Long = 42L,
      minLen: Int = 4,
      meanLen: Int = 16,
      maxLen: Int = 256,
      /** conversations 0..hotConvs-1 get hotLen turns (skew fixture) */
      hotConvs: Int = 0,
      hotLen: Int = 0,
      startEpochSec: Long = 1735689600L, // 2025-01-01T00:00:00Z
      /** max seconds between consecutive conversation starts * nConvs */
      convStartSpreadSec: Long = 6 * 3600L,
      toolCallProb: Double = 0.35,
      systemTurnProb: Double = 0.3)

  // --- counter-based RNG (splitmix64; public-domain constants) ---------
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(parts: Long*): Long = parts.foldLeft(0x2545F4914F6CDD1DL)((a, p) => mix64(a ^ p))
  def double01(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  private val toolNames = Array("search", "calculator", "browser", "code_exec", "database")
  private val words = Array(
    "the", "model", "stream", "window", "state", "shuffle", "partition",
    "conversation", "agent", "reply", "question", "tool", "result", "plan",
    "data", "event", "time", "order", "key", "batch")

  def convId(convIdx: Long): String = f"conv-$convIdx%010d"

  def convLength(convIdx: Long, cfg: Config): Int = {
    if (convIdx < cfg.hotConvs && cfg.hotLen > 0) cfg.hotLen
    else {
      // bounded power law: len = minLen + floor(scale * u^(-0.7)) capped
      val u = math.max(double01(hash(cfg.seed, convIdx, 1L)), 1e-12)
      val scale = (cfg.meanLen - cfg.minLen) * 0.42 // calibrated so mean ~= meanLen
      val len = cfg.minLen + (scale * math.pow(u, -0.7)).toLong
      math.min(len, cfg.maxLen.toLong).toInt
    }
  }

  /** Pure per-conversation generation — deterministic in (convIdx, cfg). */
  def turnsFor(convIdx: Long, cfg: Config): Seq[Turn] = {
    val id = convId(convIdx)
    val len = convLength(convIdx, cfg)
    val startSec = cfg.startEpochSec +
      (double01(hash(cfg.seed, convIdx, 2L)) * cfg.convStartSpreadSec).toLong
    val out = Vector.newBuilder[Turn]
    out.sizeHint(len)
    var tsSec = startSec
    var temp = 98.0
    var idx = 0
    var prevRole = ""
    val hasSystem = double01(hash(cfg.seed, convIdx, 3L)) < cfg.systemTurnProb
    while (idx < len) {
      val h = hash(cfg.seed, convIdx, 100L + idx)
      // role state machine: [system]? (user (tool assistant | assistant))*
      val role =
        if (idx == 0 && hasSystem) "system"
        else prevRole match {
          case "" | "system" | "assistant" => "user"
          case "user" =>
            if (double01(mix64(h ^ 7L)) < cfg.toolCallProb) "tool" else "assistant"
          case "tool" => "assistant"
        }
      prevRole = role
      val tool = if (role == "tool") toolNames(((mix64(h ^ 11L) >>> 33) % toolNames.length).toInt) else ""
      // temperature random walk, reference steps {-2,-1,0,1,2}
      val step = ((mix64(h ^ 13L) >>> 33) % 5L).toInt - 2
      temp += step
      val w1 = words(((mix64(h ^ 17L) >>> 33) % words.length).toInt)
      val w2 = words(((mix64(h ^ 19L) >>> 33) % words.length).toInt)
      // Locale.ROOT: a comma-decimal default locale would render temp=98,0
      // and break the bit-identical-across-machines determinism claim
      val tempStr = String.format(java.util.Locale.ROOT, "%.1f", Double.box(temp))
      val text = s"$role turn $idx of $id: $w1 $w2 temp=$tempStr"
      out += Turn(id, idx, role, text, tool, new Timestamp(tsSec * 1000L))
      // strictly increasing ts within the conversation: 5..125 sec gaps
      tsSec += 5L + ((mix64(h ^ 23L) >>> 33) % 121L)
      idx += 1
    }
    out.result()
  }

  /** Distributed generation: no driver loop, deterministic at any parallelism. */
  def dataset(spark: SparkSession, cfg: Config): Dataset[Turn] = {
    import spark.implicits._
    spark.range(0L, cfg.nConvs).flatMap(i => turnsFor(i, cfg))
  }
}
