package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Issue-key column functions (SURVEY.md §2.7 F1/F2/F12).
  *
  * The reference has two conflicting project-key extraction rules
  * (first-dash vs multi-dash; SURVEY.md F1 note) — the multi-dash rule is
  * canonical here (reference: pkg/schema/yaml.go:126-134): everything before
  * the final `-number` segment is the project.
  */
object Keys {

  /** F1: `PROJ-SUB-123` → `PROJ-SUB` (multi-dash rule). */
  def extractProjectKey(c: Column): Column =
    regexp_extract(c, "^(.*)-\\d+$", 1)

  /** F2: epic key → (project, number) struct
    * (reference: pkg/jql/builder.go:249-264).
    */
  def parseEpicKey(c: Column): Column =
    struct(
      extractProjectKey(c).as("project"),
      regexp_extract(c, "-(\\d+)$", 1).cast("int").as("number"))

  /** F12: `projects/{proj}/issues/{key}.yaml` → key
    * (reference: internal/sync/incremental.go:468-475).
    */
  def keyFromFilePath(c: Column): Column =
    regexp_extract(c, "([A-Z][A-Z0-9-]*-\\d+)\\.yaml$", 1)
}
