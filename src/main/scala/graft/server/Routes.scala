package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import graft.sources.ResultShaper.jsonStr

/** The gateway's HTTP route table, the reference's `httpd/handler.go`
  * Routes (each entry one method, one pattern and one auth flag). A
  * [[Route]] declares everything about a request except the handler's
  * own work: its path pattern (a `{name}` segment captures), its
  * methods, whether form bodies are parameters, its [[Guard]], its
  * error [[Family]] and an optional [[Meter]]. One [[Router]] serves the
  * whole table: it counts the request, matches path and method (404,
  * 405), parses parameters, authenticates (401), applies the guard
  * (403), runs the handler and answers a handler failure in the route's
  * envelope.
  */
object Routes {

  /** Who may call a route. The reference's route table carries one auth
    * flag; [[Open]] is that flag off (`/ping`, `/metrics`, buildinfo).
    * The other three are the flag on — the request authenticates
    * (`handler.go:1913` authenticate) — and say what is checked next:
    * [[Authed]] leaves privilege to the handler, which authorizes each
    * statement like the reference's `authorizer.go:92` AuthorizeQuery
    * (`/query`, Arrow do-get); [[Admin]] is `checkAuth`'s admin
    * requirement on the syscontrol, debug and backup routes; [[Priv]] is
    * the per-database `AuthorizeDatabase` check the write and prom
    * handlers make. With auth off, or before the first admin exists,
    * every guard passes. */
  sealed trait Guard
  case object Open extends Guard
  case object Authed extends Guard
  case object Admin extends Guard
  /** Privilege `need` on the database `db` names: by default the `db`
    * param (empty when absent), else e.g. a path capture. */
  final case class Priv(need: Int,
                        db: Request => String = _.params.getOrElse("db", ""))
      extends Guard

  /** A route family's error envelope for a `code` reply. */
  sealed abstract class Family(val envelope: (Int, String) => String)
  case object Influx extends Family((_, m) => s"""{"error":${jsonStr(m)}}""")
  case object Prom extends Family((_, m) =>
    s"""{"status":"error","errorType":"bad_data","error":${jsonStr(m)}}""")
  case object Logkeeper extends Family((c, m) =>
    s"""{"success":false,"code":"$c","message":${jsonStr(m)}}""")

  /** A handler failure answered with `code` instead of 400. */
  final class Status(val code: Int, msg: String) extends RuntimeException(msg)

  /** Serving statistics, the reference's `handler` expvar module
    * (`handler_statistics.go`; field names match its `name:` tags). */
  final class Stats {
    val req, queryReq, writeReq, pointsWrittenOK, write400ErrReq, pingReq,
      statusReq, authFail, clientError, serverError, queryReqDurationNs,
      writeReqDurationNs = new AtomicLong(0)
  }

  /** A route's own counters: requests, nanoseconds spent in them, and
    * the handler failures answered 400. */
  final case class Meter(count: AtomicLong, durationNs: AtomicLong,
                         failed400: Option[AtomicLong] = None)

  /** One matched request: its parameters, path captures and principal
    * (None when auth is off or the route is [[Open]]). */
  final class Request private[Routes] (val ex: HttpExchange,
                                       val params: Map[String, String],
                                       captures: Map[String, String],
                                       val principal: Option[Auth.User],
                                       stats: Stats) {
    /** The path capture `name`. */
    def apply(name: String): String = captures(name)
    def header(name: String): Option[String] =
      Option(ex.getRequestHeaders.getFirst(name))
    def body(): Array[Byte] = ex.getRequestBody.readAllBytes()
    def respond(code: Int, body: String,
                ctype: String = "application/json"): Unit =
      Routes.respond(stats, ex, code, body, ctype)
    /** A reply without a body or content type. */
    def empty(code: Int): Unit = {
      ex.sendResponseHeaders(code, -1); ex.close()
    }
  }

  /** One table entry; [[route]] builds it. */
  final class Route private[Routes] (val methods: Set[String],
                                     pattern: String, val guard: Guard,
                                     val family: Family, val form: Boolean,
                                     val meter: Option[Meter],
                                     val handle: Request => Unit) {
    private val segs = pattern.split("/", -1)
    private val names = segs.map(s =>
      if (s.startsWith("{") && s.endsWith("}")) s.substring(1, s.length - 1)
      else null)

    /** The captures of a request path's segments, when they match. */
    def captures(path: Array[String]): Option[Map[String, String]] =
      if (path.length != segs.length ||
          segs.indices.exists(i => names(i) == null && segs(i) != path(i)))
        None
      else Some(segs.indices.collect {
        case i if names(i) != null => names(i) -> path(i) }.toMap)
  }

  /** A route of `methods` (space-separated) at `pattern`. */
  def route(methods: String, pattern: String, guard: Guard,
            family: Family = Influx, form: Boolean = false,
            meter: Option[Meter] = None)(handle: Request => Unit): Route =
    new Route(methods.split(' ').toSet, pattern, guard, family, form, meter,
      handle)

  private def respond(stats: Stats, ex: HttpExchange, code: Int,
                      body: String, ctype: String = "application/json"): Unit = {
    if (code == 401 || code == 403) stats.authFail.incrementAndGet()
    if (code >= 400 && code < 500) stats.clientError.incrementAndGet()
    else if (code >= 500) stats.serverError.incrementAndGet()
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1L else bytes.length.toLong)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def dec(s: String) = java.net.URLDecoder.decode(s, UTF_8)

  /** Serves `routes` from one context. */
  final class Router(routes: Seq[Route], auth: Auth, requireAuth: Boolean,
                     stats: Stats) extends HttpHandler {
    private val table = routes.toArray

    def handle(ex: HttpExchange): Unit = {
      stats.req.incrementAndGet()
      val path = ex.getRequestURI.getPath.split("/", -1)
      val hits = table.flatMap(rt => rt.captures(path).map(rt -> _))
      hits.find(_._1.methods(ex.getRequestMethod)) match {
        case Some((rt, caps)) => serve(rt, caps, ex)
        case None =>
          val code = if (hits.isEmpty) 404 else 405
          respond(stats, ex, code, Influx.envelope(code,
            if (hits.isEmpty) "not found" else "invalid method"))
      }
    }

    private def serve(rt: Route, caps: Map[String, String],
                      ex: HttpExchange): Unit = {
      val t0 = System.nanoTime()
      rt.meter.foreach(_.count.incrementAndGet())
      try {
        val p = params(ex, rt.form)
        (if (rt.guard == Open) Right(None) else authenticate(ex, p)) match {
          case Left(msg) =>
            ex.getResponseHeaders.set("WWW-Authenticate",
              "Basic realm=\"graft\"")
            respond(stats, ex, 401, Influx.envelope(401, msg))
          case Right(principal) =>
            val req = new Request(ex, p, caps, principal, stats)
            denial(rt.guard, req) match {
              case Some(msg) =>
                respond(stats, ex, 403, Influx.envelope(403, msg))
              case None => rt.handle(req)
            }
        }
      } catch {
        case e: Throwable =>
          val code = e match { case s: Status => s.code; case _ => 400 }
          if (code == 400)
            rt.meter.flatMap(_.failed400).foreach(_.incrementAndGet())
          // once a streamed reply's headers are out, a failure can only
          // drop the connection (the reference does the same)
          if (ex.getResponseCode != -1) ex.close()
          else try respond(stats, ex, code,
            rt.family.envelope(code, String.valueOf(e.getMessage)))
          catch { case _: Throwable => ex.close() }
      } finally
        rt.meter.foreach(_.durationNs.addAndGet(System.nanoTime() - t0))
    }

    /** URI query params, plus form-encoded POST body params on routes
      * that read them (`/query` takes `q` in either place; a `/write`
      * body is never a form). */
    private def params(ex: HttpExchange, form: Boolean): Map[String, String] = {
      val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
      val fromBody =
        if (form && ex.getRequestMethod == "POST" &&
            ct.startsWith("application/x-www-form-urlencoded"))
          new String(ex.getRequestBody.readAllBytes(), UTF_8)
        else ""
      (Option(ex.getRequestURI.getRawQuery).getOrElse("") + "&" + fromBody)
        .split('&').filter(_.nonEmpty).map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => dec(k) -> dec(v)
            case Array(k) => dec(k) -> ""
          }
        }.toMap
    }

    /** The request's principal (`handler.go:1913` authenticate): None
      * when auth is off — or no admin exists yet, the bootstrap window
      * that lets the first `CREATE USER … WITH ALL PRIVILEGES` through
      * (`handler.go:1923`). Otherwise credentials come from `u`/`p`
      * params, `Basic`, or `Token user:pw` headers (`handler.go:1861`
      * ParseCredentials); Left carries the reference's 401 message. */
    private def authenticate(ex: HttpExchange, p: Map[String, String])
        : Either[String, Option[Auth.User]] =
      if (!requireAuth || !auth.adminExists) Right(None)
      else {
        val creds: Option[(String, String)] = (p.get("u"), p.get("p")) match {
          case (Some(u), Some(pw)) if u.nonEmpty && pw.nonEmpty => Some((u, pw))
          case _ =>
            Option(ex.getRequestHeaders.getFirst("Authorization")).flatMap { h =>
              h.split(" ", 2) match {
                case Array("Basic", b64) =>
                  val up = new String(
                    java.util.Base64.getDecoder.decode(b64), UTF_8)
                  up.split(":", 2) match {
                    case Array(u, pw) => Some((u, pw)); case _ => None
                  }
                case Array("Token", tok) => tok.split(":", 2) match {
                  case Array(u, pw) => Some((u, pw)); case _ => None
                }
                case _ => None
              }
            }
        }
        creds match {
          case None => Left("unable to parse authentication credentials")
          case Some((u, pw)) =>
            auth.authenticate(u, pw).map(Some(_)).toRight("authorization failed")
        }
      }

    /** The guard's 403 message, if the principal fails it. */
    private def denial(guard: Guard, r: Request): Option[String] =
      r.principal.flatMap { u =>
        guard match {
          case Admin if !u.admin => Some(
            s"""user "${u.name}" is not authorized, requires admin privilege""")
          case Priv(need, db) =>
            val d = db(r)
            val verb = if (need == Auth.WritePrivilege) "write to" else "read from"
            if (u.authorizeDatabase(need, d)) None
            else Some(s"""user "${u.name}" is not authorized to $verb database "$d"""")
          case _ => None
        }
      }
  }
}
