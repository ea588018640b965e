package graft.server

import java.security.SecureRandom
import java.util.Base64
import javax.crypto.SecretKeyFactory
import javax.crypto.spec.PBEKeySpec
import scala.collection.mutable
import graft.query.InfluxQL

/** User catalog + per-database privilege model for the HTTP gateway —
  * the reference's meta user store and statement executors:
  *
  *   - `lib/util/lifted/influx/meta/userinfo.go:20` UserInfo (name,
  *     hashed password, admin flag, db→privilege map) and `:54`
  *     AuthorizeDatabase (admins pass everything; otherwise the grant
  *     must equal the ask or be ALL);
  *   - `lib/util/lifted/influx/meta/data.go:2838` CreateUser (one admin
  *     only), `:2868` DropUser (admin undroppable), `:2885` UpdateUser
  *     (same password rejected), `:2913` SetPrivilege, `:2933`
  *     SetAdminPrivilege (always refused — admin is fixed at creation);
  *   - `coordinator/statement_executor.go:869,1014,1022,1042,2119,1446`
  *     the CREATE USER / GRANT / REVOKE (bit-clear) / SET PASSWORD /
  *     SHOW USERS / SHOW GRANTS executors.
  *
  * Error strings mirror `meta/errors.go` so clients written against the
  * reference see the same contracts. Passwords are stored as salted
  * PBKDF2-HMAC-SHA256 (JDK built-in) — same contract as the reference's
  * bcrypt hashes (salted, slow, one-way), different KDF since bcrypt is
  * not in the JDK. GRANT/REVOKE validate the database name through the
  * pluggable [[Auth.databaseExists]] hook (`data.go:2913` SetPrivilege
  * calls GetDatabase first) — the gateway wires it to its database
  * catalog; standalone use keeps the permissive default.
  */
object Auth {
  /** Privilege bitmask — the reference's `originql.Privilege` values.
    * REVOKE bit-clears (`statement_executor.go:1022` `p &^ privilege`),
    * so READ|WRITE compose to ALL. */
  final val NoPrivileges = 0
  final val ReadPrivilege = 1
  final val WritePrivilege = 2
  final val AllPrivileges = 3

  /** `influxql.Privilege.String()` rendering, used by SHOW GRANTS. */
  def privilegeName(p: Int): String = p match {
    case NoPrivileges => "NO PRIVILEGES"
    case ReadPrivilege => "READ"
    case WritePrivilege => "WRITE"
    case _ => "ALL PRIVILEGES"
  }

  case class User(name: String, hash: String, salt: String, admin: Boolean,
                  privileges: Map[String, Int]) {
    /** `userinfo.go:54` AuthorizeDatabase. */
    def authorizeDatabase(priv: Int, db: String): Boolean =
      admin || priv == NoPrivileges || {
        val p = privileges.getOrElse(db, NoPrivileges)
        p == priv || p == AllPrivileges
      }
  }
}

final class Auth {
  import Auth._

  private val users = mutable.LinkedHashMap.empty[String, User]
  private val rng = new SecureRandom

  private def kdf(pw: String, saltB64: String): String = {
    val spec = new PBEKeySpec(pw.toCharArray,
      Base64.getDecoder.decode(saltB64), 4096, 256)
    Base64.getEncoder.encodeToString(
      SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
        .generateSecret(spec).getEncoded)
  }

  private def newSalt(): String = {
    val b = new Array[Byte](16); rng.nextBytes(b)
    Base64.getEncoder.encodeToString(b)
  }

  /** `data.go:2961` AdminUserExist — gates the bootstrap window: with
    * no admin yet, the gateway runs requests unauthenticated so the
    * first `CREATE USER … WITH ALL PRIVILEGES` can happen
    * (`handler.go:1923`). */
  def adminExists: Boolean = synchronized(users.values.exists(_.admin))

  def userCount: Int = synchronized(users.size)

  def user(name: String): Option[User] = synchronized(users.get(name))

  /** Credential check (`handler.go:1945` MetaClient.Authenticate). */
  def authenticate(name: String, pw: String): Option[User] = synchronized {
    users.get(name).filter { u =>
      java.security.MessageDigest.isEqual(
        kdf(pw, u.salt).getBytes, u.hash.getBytes)
    }
  }

  // --------------------------------------------------- durable catalog
  // The reference persists users in its meta store; a gateway with a
  // persist dir must not reopen the unauthenticated bootstrap window on
  // restart. TSV of URL-encoded fields: name, hash, salt, admin, and
  // db=privilege pairs (hashes only — plaintext never touches disk).
  def snapshotTsv: String = synchronized {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    users.values.map { u =>
      (Seq(enc(u.name), u.hash, u.salt, u.admin.toString) ++
        u.privileges.toSeq.sortBy(_._1)
          .map { case (db, p) => s"${enc(db)}=$p" }).mkString("\t")
    }.mkString("\n")
  }

  def restoreTsv(tsv: String): Unit = synchronized {
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    users.clear()
    tsv.split("\n").filter(_.nonEmpty).foreach { line =>
      val f = line.split("\t")
      val privs = f.drop(4).map { kv =>
        val Array(db, p) = kv.split("=", 2)
        dec(db) -> p.toInt
      }.toMap
      val name = dec(f(0))
      users(name) = User(name, f(1), f(2), f(3).toBoolean, privs)
    }
  }

  /** Database-existence check for GRANT/REVOKE (`data.go:2919`
    * GetDatabase before SetPrivilege). The gateway points this at its
    * database catalog; default accepts anything (standalone use). */
  @volatile var databaseExists: String => Boolean = _ => true

  /** Execute one user-management statement. Mutations return None;
    * SHOW forms return (series name, columns, value rows) for the
    * caller to shape. Errors throw with the reference's messages. */
  def execute(sql: String): Option[(String, Seq[String], Seq[Seq[Any]])] = {
    val c = new InfluxQL.Cursor(sql)
    /** READ | WRITE | ALL [PRIVILEGES] */
    def privilege(): Int = c.word() match {
      case "read" => ReadPrivilege
      case "write" => WritePrivilege
      case "all" => c.accept("privileges"); AllPrivileges
      case k => sys.error(s"unknown privilege $k")
    }
    c.word() match {
      case "create" =>
        c.expectIdent("user")
        val name = c.ident()
        c.expectIdent("with"); c.expectIdent("password")
        val pw = c.str()
        val admin =
          if (c.atEnd) false
          else {
            // only "WITH ALL PRIVILEGES" is legal here
            // (parser.go:2245 "create user cmd format err")
            Seq("with", "all", "privileges").foreach(c.expectIdent)
            true
          }
        c.end()
        synchronized {
          if (users.contains(name)) sys.error("user already exists")
          if (admin && users.values.exists(_.admin))
            sys.error("admin user is existed, forbidden to create " +
              "new admin user")
          val salt = newSalt()
          users(name) = User(name, kdf(pw, salt), salt, admin, Map.empty)
        }
        None
      case "drop" =>
        c.expectIdent("user")
        val name = c.ident(); c.end()
        synchronized {
          users.get(name) match {
            case Some(u) if u.admin =>
              sys.error("forbidden to delete admin user")
            case Some(_) => users.remove(name)
            case None => sys.error("user not found")
          }
        }
        None
      case "grant" =>
        val priv = privilege()
        if (c.accept("to")) {
          // GRANT ALL [PRIVILEGES] TO user — admin grant, always
          // refused post-creation (data.go:2933 SetAdminPrivilege)
          c.ident(); c.end()
          sys.error("forbidden to grant or revoke privileges, because " +
            "only one admin is allowed for the database")
        }
        c.expectIdent("on")
        val db = c.ident()
        c.expectIdent("to")
        val name = c.ident(); c.end()
        synchronized {
          // data.go:2913 SetPrivilege: user lookup first, then the
          // database check (GetDatabase -> errno.DatabaseNotFound)
          val u = users.getOrElse(name, sys.error("user not found"))
          if (!databaseExists(db))
            sys.error(s"database not found: $db")
          users(name) = u.copy(privileges = u.privileges + (db -> priv))
        }
        None
      case "revoke" =>
        val priv = privilege()
        if (c.accept("from")) {
          c.ident(); c.end()
          sys.error("forbidden to grant or revoke privileges, because " +
            "only one admin is allowed for the database")
        }
        c.expectIdent("on")
        val db = c.ident()
        c.expectIdent("from")
        val name = c.ident(); c.end()
        synchronized {
          val u = users.getOrElse(name, sys.error("user not found"))
          if (!databaseExists(db))
            sys.error(s"database not found: $db")
          // bit-clear like the reference's `p &^ stmt.Privilege`
          val left =
            if (priv == AllPrivileges) NoPrivileges
            else u.privileges.getOrElse(db, NoPrivileges) & ~priv
          users(name) = u.copy(privileges =
            if (left == NoPrivileges) u.privileges - db
            else u.privileges + (db -> left))
        }
        None
      case "set" =>
        c.expectIdent("password"); c.expectIdent("for")
        val name = c.ident()
        c.op("=")
        val pw = c.str(); c.end()
        synchronized {
          val u = users.getOrElse(name, sys.error("user not found"))
          if (java.security.MessageDigest.isEqual(
              kdf(pw, u.salt).getBytes, u.hash.getBytes))
            sys.error("the password is the same as the old one, " +
              "please enter a new password")
          // fresh salt per password change: reusing the old salt would
          // let a holder of an earlier snapshot precompute against all
          // future passwords (the same-password check above is the only
          // place the old salt is legitimately consulted)
          val s2 = newSalt()
          users(name) = u.copy(hash = kdf(pw, s2), salt = s2)
        }
        None
      case "show" =>
        c.word() match {
          case "users" =>
            c.end()
            // statement_executor.go:2120 — rwuser is a config-born
            // role the SQL surface cannot create, so always false here
            val rows = synchronized(users.values.toSeq)
              .map(u => Seq[Any](u.name, u.admin, false))
            Some(("users", Seq("user", "admin", "rwuser"), rows))
          case "grants" =>
            c.expectIdent("for")
            val name = c.ident(); c.end()
            val u = synchronized(users.get(name))
              .getOrElse(sys.error("user not found"))
            val rows = u.privileges.toSeq.sortBy(_._1)
              .map { case (db, p) => Seq[Any](db, privilegeName(p)) }
            Some(("grants_for_" + name, Seq("database", "privilege"), rows))
          case k => sys.error(s"unexpected SHOW $k in user statement")
        }
      case k => sys.error(s"not a user-management statement: $k")
    }
  }
}
