package graft.sources

/** X9 — credential resolution (`sybaseiq_extractor.py:57-95`): connection
  * secrets are fetched at runtime by reference and never stored in plans or
  * the ledger (the reference scrubs them before the ledger write,
  * `routing/lambda_function.py:125-127`; our LedgerEntry simply has no
  * credential fields).
  *
  * The reference resolves a Secrets Manager ARN. graft's runner resolves
  * credentials from the process environment (EnvCredentialsProvider), which
  * ignores the reference string; embedded sources and tests pass fixed
  * ones (StaticCredentialsProvider).
  */
final case class JdbcCredentials(user: String, password: String,
    driver: Option[String] = None)

trait CredentialsProvider {
  def resolve(ref: Option[String]): JdbcCredentials
}

/** Credentials from the environment (GRAFT_JDBC_USER / _PASSWORD / _DRIVER). */
object EnvCredentialsProvider extends CredentialsProvider {
  def resolve(ref: Option[String]): JdbcCredentials =
    JdbcCredentials(
      sys.env.getOrElse("GRAFT_JDBC_USER", ""),
      sys.env.getOrElse("GRAFT_JDBC_PASSWORD", ""),
      sys.env.get("GRAFT_JDBC_DRIVER"))
}

/** Fixed credentials for tests/embedded sources. */
final case class StaticCredentialsProvider(creds: JdbcCredentials)
    extends CredentialsProvider {
  def resolve(ref: Option[String]): JdbcCredentials = creds
}
