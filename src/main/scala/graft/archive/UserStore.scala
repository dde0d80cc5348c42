package graft.archive

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

/** Persisted admin users with roles — the re-expression of the
  * reference's user management (ArchiveUserDetailsManager.java: user
  * add/remove, password change, role-gated admin access, all stored in
  * the database and mutable without a restart) over the same
  * exclusive-create versioned-log pattern as [[ConfigCommands]]:
  * every mutation commits a complete new state version atomically,
  * readers consult the latest version per request (so a password
  * rotation or role change takes effect on the NEXT request), and the
  * log self-prunes to a bounded tail.
  *
  * Passwords are salted PBKDF2-HmacSHA256 (the reference stores
  * bcrypt via Spring's PasswordEncoder; PBKDF2 is the JDK-native
  * equivalent — no new dependency). Verification is constant-time on
  * the derived key. A small per-process cache memoizes SUCCESSFUL
  * verifications per (user, password digest, store version) so the
  * per-request cost is a probe of the log head (two existence
  * checks), not a key derivation — any committed change bumps the
  * version and invalidates it.
  *
  * Roles match the reference's two-tier model: `archive-admin` may
  * read and mutate; `archive-user` is read-only on the admin surface
  * (GETs allowed, mutating requests refused) — plus the
  * self-service exception: any authenticated user may change their
  * OWN password.
  */
object UserStore {

  val AdminRole = "archive-admin"
  val UserRole = "archive-user"

  /** `hash`/`salt` are hex; `iters` the PBKDF2 iteration count the
    * hash was derived with (kept per user so the cost can be raised
    * without invalidating existing credentials).
    */
  case class User(name: String, hash: String, salt: String, iters: Int,
                  roles: Set[String]) {
    def isAdmin: Boolean = roles.contains(AdminRole)
  }

  case class UserState(version: Long, users: Seq[User]) {
    def user(name: String): Option[User] = users.find(_.name == name)
  }

  /** Iterations for NEW hashes: high enough to be a real KDF, low
    * enough that a cold verification stays interactive (~10 ms). */
  val Iterations = 20000

  private val mapper = new ObjectMapper()

  // ---- hashing -------------------------------------------------------

  private def pbkdf2(password: String, salt: Array[Byte],
                     iters: Int): Array[Byte] = {
    val spec = new javax.crypto.spec.PBEKeySpec(
      password.toCharArray, salt, iters, 256)
    javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
      .generateSecret(spec).getEncoded
  }

  private def hex(b: Array[Byte]): String =
    b.map(x => f"$x%02x").mkString

  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def newHash(password: String): (String, String, Int) = {
    val salt = new Array[Byte](16)
    new java.security.SecureRandom().nextBytes(salt)
    (hex(pbkdf2(password, salt, Iterations)), hex(salt), Iterations)
  }

  /** Constant-time verification against the stored derived key. */
  def verify(u: User, password: String): Boolean =
    java.security.MessageDigest.isEqual(
      pbkdf2(password, unhex(u.salt), u.iters), unhex(u.hash))

  // ---- log serialization --------------------------------------------

  private def toJson(st: UserState): Array[Byte] = {
    val root: ObjectNode = mapper.createObjectNode()
    root.put("version", st.version)
    val arr: ArrayNode = root.putArray("users")
    st.users.sortBy(_.name).foreach { u =>
      val n = arr.addObject()
      n.put("name", u.name)
      n.put("hash", u.hash)
      n.put("salt", u.salt)
      n.put("iters", u.iters)
      val r = n.putArray("roles")
      u.roles.toSeq.sorted.foreach(r.add)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)
  }

  private def fromJson(bytes: Array[Byte]): UserState = {
    val root = mapper.readTree(bytes)
    val users = ArrayBuffer.empty[User]
    root.get("users").forEach { n =>
      val roles = scala.collection.mutable.Set.empty[String]
      n.get("roles").forEach(r => roles += r.asText())
      users += User(n.get("name").asText(), n.get("hash").asText(),
        n.get("salt").asText(), n.get("iters").asInt(), roles.toSet)
    }
    UserState(root.get("version").asLong(), users.toSeq)
  }

  /** The user log, `_users/v{N}.json`: every version the complete
    * user set ([[StateLog]]). */
  private val log = new StateLog[UserState]("_users", UserState(0L, Nil),
    memoMax = 256, toJson, fromJson, (st, v) => st.copy(version = v))

  /** Latest committed user set. A log with no versions is EMPTY — the
    * caller decides whether to seed (see [[ensureSeeded]]). */
  def state(spark: SparkSession, path: String): UserState =
    log.state(spark, path)

  // ---- mutations -----------------------------------------------------

  def addUser(spark: SparkSession, path: String, name: String,
              password: String, roles: Set[String]): UserState = {
    require(name.nonEmpty, "user name must be non-empty")
    require(roles.nonEmpty && roles.subsetOf(Set(AdminRole, UserRole)),
      s"roles must be a non-empty subset of {$AdminRole, $UserRole}")
    val (h, s, i) = newHash(password)
    log.commit(spark, path) { cur =>
      require(!cur.users.exists(_.name == name),
        s"user '$name' already exists")
      cur.copy(users = cur.users :+ User(name, h, s, i, roles))
    }
  }

  /** Remove a user. Refuses to remove the LAST admin — a store no
    * admin can administer is a locked door with the key inside
    * (the reference's manager enforces the same invariant).
    */
  def removeUser(spark: SparkSession, path: String,
                 name: String): UserState =
    log.commit(spark, path) { cur =>
      val victim = cur.user(name).getOrElse(
        throw new NoSuchElementException(s"user '$name' does not exist"))
      require(!victim.isAdmin ||
          cur.users.count(_.isAdmin) > 1,
        "refusing to remove the last admin user")
      cur.copy(users = cur.users.filterNot(_.name == name))
    }

  def setPassword(spark: SparkSession, path: String, name: String,
                  password: String): UserState = {
    val (h, s, i) = newHash(password)
    log.commit(spark, path) { cur =>
      require(cur.users.exists(_.name == name),
        s"user '$name' does not exist")
      cur.copy(users = cur.users.map(u =>
        if (u.name == name) u.copy(hash = h, salt = s, iters = i) else u))
    }
  }

  def setRoles(spark: SparkSession, path: String, name: String,
               roles: Set[String]): UserState = {
    require(roles.nonEmpty && roles.subsetOf(Set(AdminRole, UserRole)),
      s"roles must be a non-empty subset of {$AdminRole, $UserRole}")
    log.commit(spark, path) { cur =>
      require(cur.users.exists(_.name == name),
        s"user '$name' does not exist")
      require(roles.contains(AdminRole) ||
          !cur.user(name).exists(_.isAdmin) ||
          cur.users.count(_.isAdmin) > 1,
        "refusing to demote the last admin user")
      cur.copy(users = cur.users.map(u =>
        if (u.name == name) u.copy(roles = roles) else u))
    }
  }

  /** First-start seeding, exactly the reference's bootstrap: an empty
    * user store gains an `admin`/`admin` administrator (the operator
    * is expected to rotate the password immediately — over the API,
    * no restart needed). A store that already has ANY version is left
    * alone.
    */
  def ensureSeeded(spark: SparkSession, path: String): Unit = {
    if (log.isEmpty(spark, path)) {
      try { addUser(spark, path, "admin", "admin", Set(AdminRole)); () }
      catch {
        // lost the seeding race to a concurrent server: fine
        case _: IllegalArgumentException => ()
      }
    }
  }

  // ---- per-request authentication -----------------------------------

  /** Successful verifications memoized per (user, password HMAC, store
    * version): the steady-state per-request cost is the head probe,
    * not a KDF run; any commit bumps the version and the stale entry
    * stops being addressable (entries for superseded versions are also
    * actively evicted). Failures are NOT cached (an attacker probing
    * passwords pays the full KDF every time). The cache key is an HMAC
    * of the password under a per-process RANDOM key, not a bare
    * SHA-256: a heap dump must not expose fast-crackable unsalted
    * digests of active admin passwords next to the PBKDF2 records the
    * store keeps at rest.
    */
  private val verifiedMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String, Long), User]()

  // a user store deleted and recreated at the same path restarts
  // version numbering — without a purge, (path, version) memo keys
  // would keep serving the DEAD store's credentials
  log.onRegression(path => verifiedMemo.keySet.removeIf(_._1 == path))

  private val memoHmacKey: javax.crypto.spec.SecretKeySpec = {
    val k = new Array[Byte](32)
    new java.security.SecureRandom().nextBytes(k)
    new javax.crypto.spec.SecretKeySpec(k, "HmacSHA256")
  }

  private def pwDigest(pw: String): String = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(memoHmacKey)
    hex(mac.doFinal(pw.getBytes(StandardCharsets.UTF_8)))
  }

  /** Authenticate a name/password pair against the CURRENT store
    * state; returns the user (with roles) on success.
    */
  def authenticate(spark: SparkSession, path: String, name: String,
                   password: String): Option[User] = {
    val st = state(spark, path)
    st.user(name).flatMap { u =>
      val key = (path, name, pwDigest(password), st.version)
      val hit = verifiedMemo.get(key)
      if (hit != null) Some(hit)
      else if (verify(u, password)) {
        if (verifiedMemo.size > 1024) verifiedMemo.clear()
        // a version advance invalidates every cached credential of the
        // store — old-version entries are unreachable anyway; drop them
        // so rotated passwords don't linger in memory
        val it = verifiedMemo.keySet.iterator()
        while (it.hasNext) {
          val k = it.next()
          if (k._1 == path && k._4 != st.version) it.remove()
        }
        verifiedMemo.put(key, u)
        Some(u)
      } else None
    }
  }
}
