package graft.crawl

import org.apache.spark.sql.{Dataset, Encoder}

/**
 * Real-time politeness executor for LIVE fetching — the engine's opt-in
 * pacing mode (`Crawl.Config.livePacing`). The virtual-clock schedule in
 * [[Crawl]] proves ordering; this is the piece that actually paces
 * requests when fetches leave the machine:
 *
 *  - per-partition SESSION INIT once per task per host via the REAL
 *    [[Sso.bootstrap]] flow (the reference's ssupath SSO login,
 *    plugins/ssupath/src/lib.rs:87-129 / sso.rs:26-92 — S8: credential
 *    setup once per task, lazily, only for hosts that need it);
 *  - per-host TOKEN BUCKET inside mapPartitions: a fetch for host H waits
 *    until H's bucket refills (robots crawl-delay); different hosts in the
 *    same partition interleave freely. Combined with the salted
 *    repartition upstream, a hot host is paced independently in each salt
 *    lane — the effective per-host rate is numSalts/delay, which is the
 *    documented (and configurable) politeness budget under salting; set
 *    numSalts=1 for strict single-lane pacing.
 *
 * The fetch function is pluggable; tests inject a recording fake, the
 * crawl's live mode plugs the synthetic expansion in.
 */
object ThrottledFetch {

  final case class Fetched[T](host: String, startedAtMs: Long, result: T)

  /**
   * Pace `reqs` within each partition: consecutive fetches of the SAME
   * host are spaced by `delayMsFor(host)`; the wait never blocks other
   * hosts' already-due requests (we process in arrival order — upstream
   * provides breadth order — and sleep only the residual delay).
   *
   * `fetch` receives a lazy per-partition session provider: the first
   * request against a host pays the SSO bootstrap, subsequent requests in
   * the task reuse the session (S8 — one authenticated client per task).
   */
  def run[I, O](
      reqs: Dataset[I], hostOf: I => String, delayMsFor: String => Long,
      fetch: (I, String => Sso.Session) => O,
      onBootstrap: () => Unit = () => ())(
      implicit enc: Encoder[Fetched[O]]): Dataset[Fetched[O]] = {
    reqs.mapPartitions { it =>
      val sessionFor = Sso.partitionSessions(onBootstrap)
      val nextFree = scala.collection.mutable.HashMap.empty[String, Long]
      it.map { req =>
        val host = hostOf(req)
        val now = System.currentTimeMillis()
        val due = nextFree.getOrElse(host, 0L)
        val start = math.max(now, due)
        if (start > now) Thread.sleep(start - now)
        nextFree(host) = start + delayMsFor(host)
        Fetched(host, start, fetch(req, sessionFor))
      }
    }
  }
}
