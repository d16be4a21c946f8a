"""Streaming per-key admission cap: the online twin of
functions/web.cap_per_domain (the RefinedWeb/C4-style per-domain
document budget), as a custom stateful operator.

An ingest pipeline admitting documents continuously cannot run a batch
row_number window — it needs a persistent per-key counter: the first
`max_per_key` arrivals of each key pass (with their admission rank),
everything after is dropped. State per key is ONE integer (arrival-count
mode), so the state store is bounded by the number of distinct keys
regardless of volume — the same bounded-state discipline as
streaming/sessions.py.

Determinism: within a micro-batch, ALL of a key's arrivals are gathered
across Arrow chunks and ordered by `order_col` before admission
(applyInPandasWithState delivers a key's rows as multiple ~10k-row
pandas chunks; sorting per chunk would make the admitted set depend on
nondeterministic chunk boundaries), so a replay of the same batch
boundaries admits the same rows. Across different batchings the
admitted SET can differ for keys straddling the cap (an online operator
sees arrival order, not the global order the batch twin sorts by) — the
batch-parity claim is exact for single-batch input and for any input
whose per-key arrival order matches the batch sort order, which the
parity test pins.

`distinct=True` switches from arrival-count to exact-membership
semantics: the state additionally carries the admitted ids (bounded by
`max_per_key` entries per key), a re-arriving already-admitted id is
ignored rather than double-counted (and not re-emitted — append mode),
and a re-arriving rejected id is rejected again without consuming
budget. This is the replay-safe mode for at-least-once upstream
sources; the cost is the id array in the state row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cap_per_key_stream(
    df: DataFrame,
    max_per_key: int,
    key_col: str = "domain",
    order_col: str = "doc_id",
    distinct: bool = False,
) -> DataFrame:
    """Streaming DataFrame → (key, order_col, rank_in_key) rows for the
    first `max_per_key` admissions of each key (append mode)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if distinct:

        def admit(key, pdfs, state):
            if state.exists:
                seen, admitted = state.get[0], list(state.get[1])
            else:
                seen, admitted = 0, []
            have = set(admitted)
            out_ord, out_rank = [], []
            # Gather every chunk before sorting: a key's rows can span
            # Arrow chunks and per-chunk sorting would admit by chunk
            # boundary, not by order_col.
            for v in sorted(str(v) for pdf in pdfs for v in pdf[order_col]):
                if v in have:
                    continue
                if seen >= max_per_key:
                    break
                seen += 1
                have.add(v)
                admitted.append(v)
                out_ord.append(v)
                out_rank.append(seen)
            state.update((seen, admitted))
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(out_ord),
                    order_col: out_ord,
                    "rank_in_key": out_rank,
                }
            )

        out_type = f"{key_col} string, {order_col} string, rank_in_key long"
        state_type = "seen long, admitted array<string>"
    else:

        def admit(key, pdfs, state):
            seen = state.get[0] if state.exists else 0
            out_ord, out_rank = [], []
            for v in sorted(v for pdf in pdfs for v in pdf[order_col]):
                if seen >= max_per_key:
                    break
                seen += 1
                out_ord.append(v)
                out_rank.append(seen)
            state.update((seen,))
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(out_ord),
                    order_col: out_ord,
                    "rank_in_key": out_rank,
                }
            )

        out_type = f"{key_col} string, {order_col} long, rank_in_key long"
        state_type = "seen long"

    return df.select(key_col, order_col).groupBy(key_col).applyInPandasWithState(
        admit,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
