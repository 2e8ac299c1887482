"""Bridge-table operator: ordered M:N groups with content-hash identity.

The reference links each death to an *ordered group* of ICD-10 causes via
``ponteGrupoCausas`` and assigns group ids with a read-max + global
row_number sequence (/root/reference/dags/spark_script_sim.py:130-255) — a
single-partition window plus a read-modify-write race against the live
store.  The rebuild keeps the signature semantics (canonical ordered
``item:ordem`` list, sim:181-192) but derives the id as a **content hash**
of the signature: deterministic across runs, embarrassingly parallel, no
sequence bottleneck — the right construction at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def canonical_signature(order_col: Column, item_col: Column) -> tuple[Column, Column]:
    """Aggregate expressions producing (signature, content-key) for a group.

    Signature = 'item:ordem' fragments sorted by (ordem, item) joined by '|'
    (the sim:181-192 construction, with the item added to the sort key so
    duplicate ordem values are still deterministic).

    The collected struct carries only (ordem, item) — the fragment string
    is rebuilt AFTER the sort (r10): it is a pure function of the sort key,
    so dropping it from the shuffled struct halves the aggregation's
    shuffle bytes without changing a character of the output.
    """
    sig = F.concat_ws(
        "|",
        F.transform(
            F.array_sort(F.collect_list(F.struct(order_col.alias("o"), item_col.alias("i")))),
            lambda x: F.concat_ws(":", x["i"].cast("string"), x["o"].cast("string")),
        ),
    )
    return sig, F.md5(sig)


def group_signature(
    df: DataFrame,
    group_col: str,
    order_col: str,
    item_col: str,
    signature_alias: str = "assinatura",
    key_alias: str = "chave_conteudo",
) -> DataFrame:
    """Per-group canonical signature + content-hash key (A2 + hash-id)."""
    sig, key = canonical_signature(F.col(order_col), F.col(item_col))
    return df.groupBy(group_col).agg(sig.alias(signature_alias), key.alias(key_alias))
