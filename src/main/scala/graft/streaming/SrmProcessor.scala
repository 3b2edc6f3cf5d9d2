package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.TTLConfig

/** Per-experiment sample-ratio-mismatch monitor backing
  * [[graft.analytics.StatTests.srmStream]] — the A/B member of the
  * constant-state monitor family (CUSUM drift, EWMA level, Holt trend,
  * bucket admission, now assignment health): TWO longs of state per
  * experiment key, updated per unit-assignment arrival, re-emitting the
  * current chi-square gate after each batch (latest emission wins).
  *
  * The statistic is the batch [[graft.analytics.StatTests.sampleRatioMismatch]]
  * form — chisq_micro = (a−b)²·10⁶ div (a+b) against χ²(0.001,1)·(a+b),
  * computed in BigInt exactly as the batch DECIMAL(38,0) route (the
  * LongType square wraps past ~3·10⁶ units of imbalance — same fix,
  * both surfaces). Output: (key, users_a, users_b, chisq_micro,
  * srm_detected).
  */
final class SrmProcessor(stateTtl: TTLConfig = TTLConfig.NONE)
    extends KeyedFold[String, (String, Long), (Long, Long), (Long, Long),
      (String, Long, Long, Long, Boolean)](
      "armCounts", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      KeyedFold.arrival, stateTtl) {

  private val CritMicro = BigInt(10827566L)   // χ²(0.001, df=1) · 10⁶

  protected def load(stored: Option[(Long, Long)]): (Long, Long) = stored.getOrElse((0L, 0L))
  protected def store(acc: (Long, Long)): (Long, Long) = acc

  protected def step(key: String, acc: (Long, Long), row: (String, Long),
      emit: ((String, Long, Long, Long, Boolean)) => Unit): (Long, Long) =
    if (row._2 == 0L) (acc._1 + 1, acc._2) else (acc._1, acc._2 + 1)

  override protected def finish(key: String,
      acc: (Long, Long)): Iterator[(String, Long, Long, Long, Boolean)] = {
    val (a, b) = acc
    val n = a + b
    val (chisq, detected) =
      if (n == 0L) (0L, false)
      else {
        val d = BigInt(a - b)
        val sq = d * d * 1000000
        ((sq / n).toLong, sq > CritMicro * n)
      }
    Iterator.single((key, a, b, chisq, detected))
  }
}
