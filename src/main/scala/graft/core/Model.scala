package graft.core

/** Core data model — Spark-native re-expression of the reference's
  * dataclasses (mcp-vector-search `core/models.py`).
  *
  * `Dataset[FileRecord]` is the discovery-scan output (SURVEY §2.1 S1/S2),
  * `Dataset[CodeChunk]` the phase-1 chunks table (`chunks_backend.py:52-93`).
  * Stored tables are plain Parquet with these schemas; all in-flight
  * mutation of the reference's status machine is replaced by snapshot
  * set-algebra between immutable tables (SURVEY §1.3).
  */
final case class FileRecord(
    file_path: String,
    language: String,
    file_hash: String,
    mtime: java.sql.Timestamp,
    size_bytes: Long,
    content: String)

final case class CodeChunk(
    chunk_id: String,
    file_path: String,
    file_hash: String,
    content: String,
    language: String,
    start_line: Int, // 1-based inclusive
    end_line: Int,   // 1-based inclusive
    chunk_type: String, // function | class | method | doc_section | code
    name: String,
    parent_name: String,
    hierarchy_path: String, // dotted, e.g. "ClassName.method_name"
    docstring: String,
    signature: String,
    complexity: Int,
    token_count: Int,
    calls: Seq[String],
    imports: Seq[String],
    inherits_from: Seq[String],
    parameters: Seq[String] = Nil,   // declared parameter list
    return_type: String = "",        // declared return type ("" if unknown)
    decorators: Seq[String] = Nil,   // @annotations / decorators
    cognitive_complexity: Int = 0,   // analysis/collectors/complexity.py:221-362
    nesting_depth: Int = 0)          // analysis/collectors/complexity.py:459-534
