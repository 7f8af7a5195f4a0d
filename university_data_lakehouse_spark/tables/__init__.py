"""ACID-ish managed-table layer (delta-protocol-equivalent).

The reference materializes every layer as Iceberg tables
(``trino_iceberg_transform_component.py:116-129``; ``iceberg_table:``
keys throughout ``defs/silver_transforms/defs.yaml``). Neither
delta-spark nor an Iceberg runtime jar ships in this container, so
the same guarantees are provided by a small log-structured commit
protocol over parquet — the publicly documented core idea of both
formats — behind an interface a real Delta/Iceberg writer can
replace 1:1.
"""

from .format import (  # noqa: F401
    CommitConflict,
    ConstraintViolation,
    CorruptLogError,
    ManagedTable,
    TableCatalog,
)
