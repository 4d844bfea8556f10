package graft.crawl

/** Driver-side walk of the FULL expansion graph of the synthetic web (no
  * Spark): every Req it can ever hand the frontier — seeds (incl. calendar
  * year pages), list pagination, post links and the every-5th-page robots
  * traps — each with the SSO session its site needs. */
object ExpansionWalk {

  def apply(scale: Long, limit: Long, rev: Int): Seq[(SyntheticWeb.Req, Option[Sso.Session])] = {
    val out = Seq.newBuilder[(SyntheticWeb.Req, Option[Sso.Session])]
    Sites.all.foreach { site =>
      val session =
        if (site.family == "auth") Some(Sso.bootstrap(site.host)) else None
      val queue = scala.collection.mutable.Queue(
        SyntheticWeb.Req(SyntheticWeb.listUrl(site, 1), site.site_id, "list", 1, 0, 0))
      if (site.family == "calendar")
        queue += SyntheticWeb.Req(SyntheticWeb.listUrl(site, 2), site.site_id, "list", 2, 0, 0)
      while (queue.nonEmpty) {
        val req = queue.dequeue()
        out += req -> session
        // only list pages link anything; traps are never fetched
        // (robots-filtered) but their URLs are part of the graph
        if (req.kind == "list")
          queue ++= SyntheticWeb.expand(req, scale, limit, rev, session)._2
      }
    }
    out.result()
  }
}
