from .table import LakeTable  # noqa: F401
from .merge import merge_batch, MergeStats  # noqa: F401
from .scd import (  # noqa: F401
    bootstrap_scd_table,
    scd_merge_batch,
    read_scd,
    read_scd_asof,
    resolve_scd_changelog,
    scd_compact,
    ScdMergeStats,
)
from .children import (  # noqa: F401
    bootstrap_child_tables,
    merge_children_batch,
    read_children,
)
from .pipeline import (  # noqa: F401
    TailStats,
    bootstrap_agg_table,
    materialized_agg_into,
    tail_into,
    tail_scd_into,
)
from .maintenance import (  # noqa: F401
    FOLD_ALL,
    MaintenancePolicy,
    MaintenanceReport,
    maintain,
    maintain_until_clean,
    plan_maintenance,
)
from .quality import (  # noqa: F401
    AuditFailed,
    audited_merge_batch,
    expression_failures,
    not_null_failures,
    run_schema_tests,
    scd_table_tests,
    schema_tests,
    unique_combination_failures,
)
