"""Pipeline configuration: ``PipelineSpec`` ≈ the reference's
``TableConfig`` (reference ``dags/cloudsql_to_bigquery.py:42-73``,
duplicated at ``dags/copy_cloudsql_to_bigquery_v2.py:30-55``).

Defaulting parity:
- ``export_query`` defaults to ``SELECT * FROM {export_table}``
  (reference ``:46-47,66``)
- ``stage_table`` defaults to ``export_table`` (``:69``)
- ``location`` defaults to ``"EU"`` (``:72``)
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class SourceSpec:
    """Where to extract from.  ``kind`` ∈ {parquet, csv, json, jdbc}.

    For jdbc, ``url``/``driver``/``properties`` apply and extraction can
    be parallelized with ``partition_column``/``num_partitions`` bounds
    (the Spark-native version of v2's chunked export, reference
    ``dags/copy_cloudsql_to_bigquery_v2.py:88``).
    """

    kind: str = "parquet"
    path: str | None = None  # file sources
    url: str | None = None  # jdbc
    driver: str | None = None
    database: str | None = None  # jdbc: scopes catalog scans (op B)
    db_schema: str | None = None  # jdbc: namespace (public/dbo/APP)
    properties: dict[str, str] = field(default_factory=dict)
    partition_column: str | None = None
    lower_bound: int | None = None
    upper_bound: int | None = None
    num_partitions: int = 1
    csv_options: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.kind not in ("parquet", "csv", "json", "jdbc"):
            raise ValueError(f"unknown source kind {self.kind!r}")


@dataclass
class PipelineSpec:
    """One table's pipeline spec (≈ ``TableConfig``)."""

    export_table: str
    source: SourceSpec = field(default_factory=SourceSpec)
    export_query: str | None = None  # defaults to SELECT * FROM export_table
    stage_table: str | None = None  # defaults to export_table
    stage_final_query: str | None = None  # op I: finalize SQL over stage views
    final_table: str | None = None
    location: str = "EU"  # carried for parity; unused by Spark itself
    write_mode: str = "overwrite"  # overwrite | append | snapshot | merge
    snapshot_date: str | None = None  # yyyyMMdd, v1 {{ ds_nodash }} parity
    merge_keys: tuple[str, ...] = ()  # for write_mode="merge"
    source_types: dict[str, str] | None = None  # op C input; None = introspect
    type_mode: str = "legacy"  # legacy | fidelity (DECIMAL handling)
    repair: bool = False  # op E on defective CSV inputs
    retries: int = 2  # op K parity (reference :29-30)
    retry_delay_s: float = 60.0
    # v1 submit-then-wait contract: the reference bounds each export at
    # 3600 s (``gcloud beta sql operations wait --timeout=3600``,
    # reference ``dags/cloudsql_to_bigquery.py:117``); here the Spark
    # jobs an attempt runs or starts after this many seconds are
    # cancelled, and a JDBC source's statements, connects and socket
    # reads time out after it. None disables the bound.
    timeout_s: float | None = 3600.0

    def __post_init__(self) -> None:
        if self.write_mode not in ("overwrite", "append", "snapshot", "merge"):
            raise ValueError(f"unknown write_mode {self.write_mode!r}")
        if self.write_mode == "merge" and not self.merge_keys:
            raise ValueError("write_mode='merge' requires merge_keys")
        if self.export_query is None:
            self.export_query = f"SELECT * FROM {self.export_table}"
        if self.stage_table is None:
            self.stage_table = self.export_table
