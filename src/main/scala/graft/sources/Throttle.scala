package graft.sources

/** C8: reader-side rate limiting — the analogue of the reference's
  * rate-limited REST transport (reference: pkg/ratelimit/ratelimit.go:67-210,
  * transport wrapper pkg/ratelimit/transport.go:17-85). A remote source's
  * `PartitionReader` wraps its row iterator here, so backpressure lives
  * inside the scan (like `maxOffsetsPerTrigger`), never in the query plan.
  *
  * The clock and sleeper are injectable for deterministic tests.
  */
object Throttle {

  /** Yield at most `maxPerSecond` items per wall-clock second, smoothing with
    * a fixed inter-item delay (the reference's delay-between-requests model,
    * defaults pkg/config/config.go:20-21).
    */
  def rateLimited[T](
      it: Iterator[T],
      maxPerSecond: Int,
      nanoTime: () => Long = () => System.nanoTime(),
      sleepMs: Long => Unit = Thread.sleep): Iterator[T] = {
    require(maxPerSecond > 0, "maxPerSecond must be positive")
    val intervalNanos = 1000000000L / maxPerSecond
    var nextAllowed = nanoTime()
    it.map { item =>
      val now = nanoTime()
      if (now < nextAllowed) sleepMs((nextAllowed - now) / 1000000)
      nextAllowed = math.max(now, nextAllowed) + intervalNanos
      item
    }
  }

  /** The rate signals a paged REST response carries (the reference parses
    * these from `Retry-After` / `X-RateLimit-Remaining` / `X-RateLimit-Reset`
    * headers; reference: pkg/ratelimit/ratelimit.go:67-210,
    * pkg/ratelimit/transport.go:17-85).
    */
  final case class RateSignal(
      status: Int,
      retryAfterMs: Option[Long] = None,
      remaining: Option[Int] = None,
      resetInMs: Option[Long] = None)

  /** C8 adaptation policy: the delay before the NEXT request, derived from
    * the last response. 429 honors `Retry-After` (exponential backoff when
    * the header is absent); a known remaining budget is spread evenly across
    * the reset window (never faster than the base delay); an exhausted budget
    * waits the window out.
    */
  def nextDelayMs(sig: RateSignal, baseDelayMs: Long, attempt: Int,
      backoffCapMs: Long = 30000): Long =
    if (sig.status == 429)
      sig.retryAfterMs.getOrElse(math.min(backoffCapMs, baseDelayMs * (1L << attempt)))
    else (sig.remaining, sig.resetInMs) match {
      case (Some(0), Some(reset)) => reset
      case (Some(rem), Some(reset)) if rem > 0 => math.max(baseDelayMs, reset / rem)
      case _ => baseDelayMs
    }
}
