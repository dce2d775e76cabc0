"""Seeded input generator: a foreign-key-closed subsample of a base dataset.

Keep or drop is decided per key by ``md5(f"{seed}:{kind}:{key}")``:

* whole customers, with their orders and those orders' lineitems;
* whole orders, with their lineitems;
* whole users' events;
* single documents.

Dimension tables (region, nation, supplier, part) are kept whole, so
every foreign key in a generated directory still resolves. So is the
embeddings table: the base holds only two near-duplicate vector pairs,
and dropping single vectors left dedup_embedding_cosine_lsh's oracle
result empty on about one seed in thirty. Rows are
filtered with pyarrow and written back with the source file's Arrow
schema and compression, so each column keeps its Parquet physical type.
The same seed always gives byte-identical files.

Usage: python3 perfbench/gen.py <base_dir> <out_dir> <seed>
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Share of keys dropped, per mille. 10% keeps every mix query's oracle
#: result non-empty on the vendored base (checked by the tests).
DROP_PER_MILLE = 100


def _kept(seed: int, kind: str, keys) -> set:
    """The subset of ``keys`` that survives the seed's md5 draw."""
    out = set()
    for k in keys:
        h = hashlib.md5(f"{seed}:{kind}:{k}".encode()).digest()
        if int.from_bytes(h[:8], "big") % 1000 >= DROP_PER_MILLE:
            out.add(k)
    return out


def _filter(table: pa.Table, column: str, keep: set) -> pa.Table:
    mask = pc.is_in(table[column], value_set=pa.array(sorted(keep), table.schema.field(column).type))
    return table.filter(mask)


def generate(base_dir: str, out_dir: str, seed: int) -> dict[str, int]:
    """Write the seed's subsample of ``base_dir`` into ``out_dir``;
    return the row count of every table."""
    os.makedirs(out_dir, exist_ok=True)
    src = {t: pq.ParquetFile(os.path.join(base_dir, f"{t}.parquet")) for t in TABLES}
    tabs = {t: f.read() for t, f in src.items()}

    customers = _kept(seed, "customer", tabs["customer"]["c_custkey"].to_pylist())
    tabs["customer"] = _filter(tabs["customer"], "c_custkey", customers)
    orders = tabs["orders"]
    orders = _filter(orders, "o_custkey", customers)
    orders = _filter(orders, "o_orderkey", _kept(seed, "order", orders["o_orderkey"].to_pylist()))
    tabs["orders"] = orders
    tabs["lineitem"] = _filter(tabs["lineitem"], "l_orderkey", set(orders["o_orderkey"].to_pylist()))
    users = _kept(seed, "user", set(tabs["events"]["user_id"].to_pylist()))
    tabs["events"] = _filter(tabs["events"], "user_id", users)
    tabs["documents"] = _filter(tabs["documents"], "doc_id",
                                _kept(seed, "documents", tabs["documents"]["doc_id"].to_pylist()))

    counts = {}
    for t in TABLES:
        f = src[t]
        # The source's pandas metadata records a RangeIndex of the
        # unfiltered length; drop it so no reader trusts a stale index.
        schema = f.schema_arrow.remove_metadata()
        codec = f.metadata.row_group(0).column(0).compression.lower() if f.metadata.num_row_groups else "snappy"
        pq.write_table(tabs[t].cast(schema), os.path.join(out_dir, f"{t}.parquet"), compression=codec)
        counts[t] = tabs[t].num_rows
    return counts


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__.strip().splitlines()[-1])
    for name, n in generate(sys.argv[1], sys.argv[2], int(sys.argv[3])).items():
        print(f"{name}: {n} rows")
