package graft.model

/** The job-control records the engine hands between its entry points
  * (Cli, ApiServer, the job manager and the reconcilers). Issues, edges and
  * the state ledger are DataFrames whose schemas their writers define
  * (`Ingest.fromWire`, `Ingest.edges`, `StateStore.fromIssues`).
  */

/** Declarative sync job spec (reference: internal/operator/types/types.go:12-67). */
final case class SyncJobSpec(
    sync_type: String, // single | batch | jql | epic | incremental
    issue_keys: Seq[String],
    jql_query: Option[String],
    project_key: Option[String],
    epic_key: Option[String],
    destination: String,
    schedule: Option[String],
    max_retries: Int,
    backoff_base_sec: Int,
    backoff_cap_sec: Int,
    dry_run: Boolean)

/** Result of one batch sync run (reference: internal/sync/batch.go:33-60). */
final case class BatchResult(
    op_id: String,
    total: Long,
    successful: Long,
    failed: Long,
    skipped: Long,
    elapsed_ms: Long,
    issues_per_sec: Double)
