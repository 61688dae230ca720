package graft.security

import java.nio.charset.StandardCharsets

/** Bearer-token validation for the HTTP transport's /mcp endpoint.
  *
  * The reference wires an OAuth middleware over every tool handler when
  * OAUTH_ENABLED=true (reference internal/mcp/server.go:45-53,
  * providers hmac/okta/google/azure per internal/config/config.go:30-36).
  * All four providers are supported:
  *
  *  - `hmac`: self-contained shared-secret validation, no network.
  *    The token is a standard HS256 JWT (docs/jwt.md pins HMAC-SHA256
  *    signatures and required claims sub/exp).
  *  - `okta` / `google` / `azure`: full OIDC resource-server
  *    validation (signature via the issuer's JWKS, iss/aud/exp/nbf
  *    claims) through [[OidcValidator]]. Key material comes from
  *    issuer discovery over HTTP, or — zero-egress deployments — an
  *    inline/file JWKS (OIDC_JWKS / OIDC_JWKS_FILE, embedded-engine
  *    extension). Misconfiguration fails closed.
  */
final class BearerAuth(provider: String, secret: String,
    nowEpochSeconds: () => Long = () => System.currentTimeMillis() / 1000L,
    oidc: Option[OidcValidator] = None) {

  /** Validate an Authorization header; Right(principal) on success
    * (username > email > subject precedence, client.go:475-490). */
  def validate(authHeader: Option[String]): Either[String, String] =
    validateUser(authHeader).map(u => Attribution.queryUsername(Some(u)))

  /** Validate and surface the full claim set the control plane reads
    * for attribution / impersonation (handlers.go:31-52). */
  def validateUser(authHeader: Option[String]): Either[String, Attribution.User] =
    authHeader match {
      case None => Left("missing bearer token")
      case Some(h) if !h.startsWith("Bearer ") => Left("malformed Authorization header")
      case Some(h) =>
        val token = h.stripPrefix("Bearer ").trim
        provider match {
          case "hmac" => validateHmac(token)
          case "okta" | "google" | "azure" =>
            oidc.toRight(s"OAuth provider '$provider' requires OIDC_ISSUER and " +
                "OIDC_AUDIENCE (and JWKS reachability) to validate tokens")
              .flatMap(_.validate(token))
          case p => Left(s"unknown OAuth provider '$p'")
        }
    }

  /** Standard HS256 JWT (docs/jwt.md: HMAC-SHA256 signature; required
    * claims sub, exp). No iss/aud for the hmac provider. */
  private def validateHmac(token: String): Either[String, Attribution.User] =
    if (secret.isEmpty) Left("JWT_SECRET is not configured")
    else for {
      parts <- Jwt.parse(token)
      _ <- Jwt.verifyHmac(parts, secret)
      _ <- Jwt.validateClaims(parts.payload, issuer = None, audience = None,
        nowEpochSeconds())
      user <- {
        val u = Jwt.user(parts.payload)
        if (u.subject.isEmpty) Left("token has no sub claim") else Right(u)
      }
    } yield user
}

object BearerAuth {
  /** Mint a reference-native HS256 JWT for the hmac provider. */
  def mintJwt(secret: String, subject: String, expiry: Long,
      extraClaims: Map[String, Any] = Map.empty): String =
    Jwt.mintHs256(secret,
      scala.collection.immutable.ListMap[String, Any]("sub" -> subject, "exp" -> expiry) ++ extraClaims)

  /** Build from config iff OAuth is enabled (server.go:45: OAUTH_ENABLED
    * gates the middleware entirely). OIDC providers get a validator
    * wired to the configured JWKS source: inline > file > issuer
    * discovery over HTTP. */
  def fromConfig(cfg: graft.config.EngineConfig): Option[BearerAuth] =
    if (!cfg.oauthEnabled) None
    else {
      val oidc = cfg.oauthProvider match {
        case "okta" | "google" | "azure" if cfg.oidcIssuer.nonEmpty =>
          val source: Jwks.Source =
            if (cfg.oidcJwks.nonEmpty) new Jwks.Static(cfg.oidcJwks)
            else if (cfg.oidcJwksFile.nonEmpty)
              new Jwks.Static(
                try new String(java.nio.file.Files.readAllBytes(
                  java.nio.file.Paths.get(cfg.oidcJwksFile)), StandardCharsets.UTF_8)
                catch { case _: Exception => "" })
            else new Jwks.Discovery(cfg.oidcIssuer)
          Some(new OidcValidator(cfg.oidcIssuer, cfg.oidcAudience, source))
        case _ => None
      }
      Some(new BearerAuth(cfg.oauthProvider, cfg.oauthHmacSecret, oidc = oidc))
    }
}
