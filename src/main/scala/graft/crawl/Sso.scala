package graft.crawl

/**
 * SSO session bootstrap for the "auth" site family (S8) — the deterministic
 * analog of the reference's ssupath login flow (plugins/ssupath/src/sso.rs:
 * 26-92; plugin wiring lib.rs:87-129):
 *
 *  1. fetch the LOGIN FORM page and scrape the hidden `sToken` input with
 *     the real HTML parser (sso.rs scrapes the form the same way);
 *  2. exchange the form token through a redirect chase (two deterministic
 *     hops standing in for the SSO redirect chain) into a session cookie;
 *  3. every subsequent fetch of that host must present the cookie —
 *     [[authorize]] rejects fetches without a valid session, exactly like
 *     the live site would 302 an unauthenticated request.
 *
 * The bootstrap is per HOST and happens ONCE PER PARTITION in the fetch
 * stage (init-once inside mapPartitions, counted by an accumulator so the
 * spec can assert "one init per partition, not per row") — the Spark
 * mapping of "construct the plugin's authenticated client once, reuse it
 * for every request".
 */
object Sso {

  final case class Session(host: String, cookie: String)

  /** Deterministic hidden-form token for a host (what the login page embeds). */
  private def formToken(host: String): String =
    f"stk${(host.hashCode.toLong * 2654435761L) & 0xFFFFFFFFL}%010d"

  /** Deterministic session cookie derived from a form token (step-2 result). */
  private def cookieFor(host: String, token: String): String =
    f"ssess${((host + token).hashCode.toLong * 2246822519L) & 0xFFFFFFFFL}%010d"

  /** The synthetic login page body for a host (the "remote" response). */
  def loginPage(host: String): String =
    s"""<html><body><form id="ssoLoginForm" action="https://$host/sso/login">
       |<input type="hidden" name="sToken" value="${formToken(host)}">
       |<input type="hidden" name="redirectUrl" value="https://$host/">
       |</form></body></html>""".stripMargin

  /**
   * Full bootstrap: scrape the login form with the real HTML parser, then
   * chase the redirect chain to mint the session cookie. Throws if the
   * form or token is missing (a changed login page must fail loudly —
   * sso.rs surfaces the same error).
   */
  def bootstrap(host: String): Session = {
    val doc = graft.parse.Html.parse(loginPage(host))
    val token = doc.selectFirst("form#ssoLoginForm input[name=sToken]")
      .flatMap(_.attr("value"))
      .getOrElse(throw new IllegalStateException(s"no sToken on $host login page"))
    // redirect chase: login POST -> ticket hop -> cookie-setting hop
    val ticket = cookieFor(host, token)
    val cookie = cookieFor(host, ticket)
    Session(host, cookie)
  }

  /** One lazily bootstrapped session per host for one partition: the
    * first request against a host calls `onBootstrap` and pays the
    * [[bootstrap]], later ones in the task reuse its session. */
  def partitionSessions(onBootstrap: () => Unit): String => Session = {
    val sessions = scala.collection.mutable.HashMap.empty[String, Session]
    host => sessions.getOrElseUpdate(host, { onBootstrap(); bootstrap(host) })
  }

  /** Reject a fetch without a valid session for the host (the live site's
    * 302-to-login for unauthenticated requests). */
  def authorize(session: Option[Session], host: String): Unit = {
    val ok = session.exists(s =>
      s.host == host && s.cookie == cookieFor(host, cookieFor(host, formToken(host))))
    if (!ok) throw new IllegalStateException(
      s"unauthenticated fetch of auth-family host $host (no valid SSO session)")
  }
}
