"""Session persistence, snapviews, load history, URL state codec.

Rebuilds the reference's lifecycle layer (SURVEY §1.1-5/6, §2.12):

- :class:`SessionState` — the `_session` KV table with INSERT OR REPLACE /
  DELETE semantics and corruption-tolerant hydration
  (`/root/reference/src/lib/sessionState.js:33-135`).
- :class:`SnapviewStore` — named materialized loads persisted as parquet
  checkpoints + JSON metadata (`snapviewDb.js:68-92`, `themes.js:195-242`:
  `COPY t TO parquet` → buffer cache → re-import), history-capped at 50
  (`store.js:62`); a theme load's grid layout is adopted as its snapview
  instead of being copied.
- :func:`append_load_history` — the `_load_history` append-only telemetry
  log with a current-timestamp column (`themes.js:417-440`).
- :func:`encode_url_state` / :func:`decode_url_state` — deflate-raw +
  base64url query-state codec (`urlState.js:15-67,83-114`).

All state lives under a root directory (parquet + json files) — the Spark
twin of IndexedDB.  On a cluster the same code targets an object-store
prefix; nothing here assumes a local FS beyond the path strings.
"""

from __future__ import annotations

import base64
import json
import os
import shutil
import time
import zlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: snapview history cap (store.js:62,167)
SNAPVIEW_CAP = 50


# ---------------------------------------------------------------------------
# URL state codec (Y4 — urlState.js:15-67)
# ---------------------------------------------------------------------------


def encode_url_state(state: dict) -> str:
    """deflate-raw + base64url (no padding), exactly urlState.js:15-38."""
    raw = json.dumps(state, separators=(",", ":"), sort_keys=True).encode()
    comp = zlib.compressobj(9, zlib.DEFLATED, -15)  # raw deflate
    packed = comp.compress(raw) + comp.flush()
    return base64.urlsafe_b64encode(packed).rstrip(b"=").decode()


def decode_url_state(token: str) -> dict | None:
    """Tolerant decode (urlState.js:83-114 returns null on any failure)."""
    try:
        pad = "=" * (-len(token) % 4)
        packed = base64.urlsafe_b64decode(token + pad)
        raw = zlib.decompress(packed, -15)
        out = json.loads(raw)
        return out if isinstance(out, dict) else None
    except Exception:
        return None


# ---------------------------------------------------------------------------
# session KV (Y1/Y2 — sessionState.js:33-135)
# ---------------------------------------------------------------------------


class SessionState:
    """`_session` KV store: JSON values, upsert semantics, parquet-backed.

    The reference keeps a DuckDB table and hydrates tolerantly — unknown
    keys ignored, corrupt JSON skipped (sessionState.js:77-122).  Same here;
    the parquet file is the engine-side artifact a cluster restart reads.

    The KV is driver-side session METADATA (a handful of rows), so reads
    and writes go through pyarrow directly — launching a Spark job per
    `set()` cost ~5 s of scheduler round-trips for a 3-row file.  The
    artifact stays a plain parquet directory that `spark.read.parquet`
    (and the reference's DuckDB) can open; tests pin that round-trip."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.path = os.path.join(root, "_session")
        self._kv: dict[str, str] = {}
        self._hydrate()

    def _hydrate(self) -> None:
        if not os.path.isdir(self.path):
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            table = pq.read_table(self.path)
            keys = table.column("key").to_pylist()
            values = table.column("value").to_pylist()
        except (pa.ArrowInvalid, KeyError, FileNotFoundError):
            # tolerant hydration (sessionState.js:77-122): a CORRUPT or
            # foreign-schema artifact starts the session empty instead of
            # failing the engine.  Deliberately narrow: a transient IO
            # failure (EACCES, network mount) must still raise — treating
            # it as "empty" would let the next set() overwrite and lose
            # the real store.
            return
        for k, v in zip(keys, values):
            self._kv[k] = v

    def get(self, key: str, default=None):
        raw = self._kv.get(key)
        if raw is None:
            return default
        try:
            return json.loads(raw)
        except Exception:  # corrupt value → tolerated (sessionState.js:96-101)
            return default

    def set(self, key: str, value) -> None:
        """INSERT OR REPLACE (sessionState.js:59-68)."""
        self._kv[key] = json.dumps(value, sort_keys=True)
        self._flush()

    def delete(self, key: str) -> None:
        self._kv.pop(key, None)
        self._flush()

    def clear(self) -> None:
        """DELETE FROM _session (sessionState.js:128-135)."""
        self._kv.clear()
        self._flush()

    def _flush(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = [(k, v) for k, v in sorted(self._kv.items())]
        table = pa.table(
            {
                "key": pa.array([k for k, _ in rows], type=pa.string()),
                "value": pa.array([v for _, v in rows], type=pa.string()),
            }
        )
        os.makedirs(self.path, exist_ok=True)
        # Atomic overwrite: write a temp part then os.replace() over the
        # live one.  The old remove-then-write left a window (crash, or a
        # concurrent reader) with NO part file — and _hydrate's deliberate
        # corruption tolerance would then restart the store EMPTY, so the
        # next set() permanently overwrote everything it used to hold.
        final = os.path.join(self.path, "part-00000.parquet")
        # dot-prefixed temp: hidden to Spark/Hadoop AND pyarrow dataset
        # discovery, so a crash mid-write can never be read as data
        tmp = os.path.join(self.path, ".part-00000.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, final)
        try:
            # Heartbeat for staging_root's stale sweep: a long-lived
            # console session only ever writes inside <root>/_session/,
            # so refresh the backing root's own mtime too — cheap direct
            # insurance on top of the sweep's depth-2 scan (ADVICE r10).
            os.utime(os.path.dirname(self.path))
        except OSError:
            pass  # root vanished / not writable — sweep scan still covers us
        for name in os.listdir(self.path):
            # stale extra parts from older layouts (never the live file),
            # plus orphaned dot-prefixed temps from a crash between
            # write_table and os.replace — hidden from readers, but they
            # would otherwise accumulate forever (our own temp was just
            # consumed by os.replace, so anything matching here is stale)
            stale_part = name.endswith(".parquet") and name != "part-00000.parquet"
            stale_tmp = name.startswith(".") and name.endswith(".tmp")
            if stale_part or stale_tmp:
                os.remove(os.path.join(self.path, name))


# ---------------------------------------------------------------------------
# snapviews (S7/S8 — themes.js:195-242, snapviewDb.js)
# ---------------------------------------------------------------------------


class SnapviewStore:
    """Named parquet checkpoints + metadata, the engine-side snapview cache.

    save = `COPY "t" TO 't.parquet'` + metadata record (themes.js:195-202,
    snapviewDb.js:68-92); load = re-import (themes.js:237-263); history
    capped at SNAPVIEW_CAP with oldest-first eviction (store.js:62).

    A theme load does not copy its rows a second time: its grid layout
    (sources/layout.py) IS the snapview.  :meth:`adopt_layout` writes a
    record that points at the layout directory and carries its schema
    (data columns + ``cx``/``cy``), cell size and the row count the load
    already took; :meth:`load` reads such a record back with that schema
    (no inference job) and drops ``cx``/``cy``.  The layout belongs to the
    load that wrote it: :meth:`delete` (and eviction) removes the record
    only, never the layout behind it."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.join(root, "snapviews")
        os.makedirs(self.root, exist_ok=True)

    def _meta_path(self, sv_id: str) -> str:
        return os.path.join(self.root, f"{sv_id}.json")

    def _data_path(self, sv_id: str) -> str:
        return os.path.join(self.root, sv_id)

    def _write_record(self, sv_id: str, row_count: int, meta: dict) -> dict:
        record = {
            "id": sv_id,
            "created_at": time.time(),
            "row_count": row_count,
            **meta,
        }
        with open(self._meta_path(sv_id), "w") as f:
            json.dump(record, f)
        self._evict()
        return record

    def save(self, sv_id: str, df: DataFrame, meta: dict | None = None) -> dict:
        df.write.mode("overwrite").parquet(self._data_path(sv_id))
        return self._write_record(
            sv_id,
            self.spark.read.parquet(self._data_path(sv_id)).count(),
            meta or {},
        )

    def adopt_layout(
        self,
        sv_id: str,
        path: str,
        schema: StructType,
        cell_deg: float,
        row_count: int,
        meta: dict | None = None,
    ) -> dict:
        """Record the grid layout at ``path`` as snapview ``sv_id``;
        ``schema`` is the layout's full schema, ``cx``/``cy`` included."""
        layout = {"path": path, "schema": schema.jsonValue(), "cell_deg": cell_deg}
        return self._write_record(sv_id, row_count, {**(meta or {}), "layout": layout})

    def record(self, sv_id: str) -> dict | None:
        try:
            with open(self._meta_path(sv_id)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def load(self, sv_id: str) -> DataFrame | None:
        layout = (self.record(sv_id) or {}).get("layout")
        if layout is not None:
            if not os.path.isdir(layout["path"]):
                return None
            schema = StructType.fromJson(layout["schema"])
            return (
                self.spark.read.schema(schema)
                .parquet(layout["path"])
                .drop("cx", "cy")
            )
        if not os.path.isdir(self._data_path(sv_id)):
            return None
        return self.spark.read.parquet(self._data_path(sv_id))

    def list(self) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(self.root)):
            if fn.endswith(".json"):
                try:
                    with open(os.path.join(self.root, fn)) as f:
                        out.append(json.load(f))
                except Exception:
                    continue
        return sorted(out, key=lambda r: r.get("created_at", 0))

    def delete(self, sv_id: str) -> bool:
        existed = os.path.isdir(self._data_path(sv_id)) or os.path.exists(
            self._meta_path(sv_id)
        )
        shutil.rmtree(self._data_path(sv_id), ignore_errors=True)
        try:
            os.remove(self._meta_path(sv_id))
        except FileNotFoundError:
            pass
        return existed

    def _evict(self) -> None:
        views = self.list()
        while len(views) > SNAPVIEW_CAP:
            self.delete(views.pop(0)["id"])


# ---------------------------------------------------------------------------
# load history (I3 — themes.js:417-440)
# ---------------------------------------------------------------------------

def append_load_history(
    root: str,
    *,
    key: str,
    release: str = "",
    bbox: str = "",
    lim: int = 0,
    cached: bool = False,
    row_count: int = 0,
    file_count: int = 0,
    load_time_ms: float = 0.0,
) -> None:
    """Append one `_load_history` row with the current timestamp
    (themes.js:419-436) — append-mode parquet, the classic telemetry log.

    Telemetry rows are driver-side metadata, so the append is a direct
    pyarrow part-file write (a Spark job per 1-row append cost ~1-2 s of
    scheduler round-trips per micro-batch in the foreachBatch sink); the
    directory stays a plain parquet table `spark.read.parquet` opens."""
    import datetime
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, "_load_history")
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "key": pa.array([key], type=pa.string()),
            "release": pa.array([release], type=pa.string()),
            "bbox": pa.array([bbox], type=pa.string()),
            "lim": pa.array([lim], type=pa.int64()),
            "cached": pa.array([cached], type=pa.bool_()),
            "row_count": pa.array([row_count], type=pa.int64()),
            "file_count": pa.array([file_count], type=pa.int64()),
            "load_time_ms": pa.array([load_time_ms], type=pa.float64()),
            "ts": pa.array(
                [datetime.datetime.now(datetime.timezone.utc)],
                type=pa.timestamp("us", tz="UTC"),
            ),
        }
    )
    pq.write_table(table, os.path.join(path, f"part-{uuid.uuid4().hex}.parquet"))


def read_load_history(spark: SparkSession, root: str) -> DataFrame | None:
    path = os.path.join(root, "_load_history")
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(path)
