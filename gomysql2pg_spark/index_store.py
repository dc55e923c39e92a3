"""The one owner of the engine's on-disk versioned parquet trees.

A store is a directory of named trees under one root. An index `<name>`
in it is a versioned tree:

- `<name>` — the base tree: Spark's part files and `_SUCCESS` marker
  plus a `_MODEL.json` sidecar freezing what encoded it;
- `<name>.delta.<batch_id>` — one appended batch, laid out the same;
- `<name>.tmp-<pid>` — an install in progress, never served;
- `<name>.compact-<tag>` and `<name>.old-<tag>` — the staged new base
  and the previous base while a swap runs.

A tree counts only once its `_SUCCESS` exists, and every install writes
a `.tmp-` tree and moves it into place, so a racing process never reads
a half-written tree. The CONTROL plane (existence, the `_SUCCESS` gate,
sidecars, moves, deletes, footer row counts) rides `pyarrow.fs`; the
DATA plane (the executor-parallel write and read of corpus-sized
tables) rides Spark's own filesystem at the same tree names. The same
code therefore runs on local disk, an injected test filesystem or an
object store, where `move` may be copy+delete: the `_SUCCESS` re-check
after a failed move is what keeps the loser of a race from trusting a
half-installed tree.

Users: the IVFADC code index (`operators.similarity`), the streaming
LSH admission index (`streaming.stream`) and the COPY-text round-trip
cache (`sources.copytext`, a single tree without a sidecar)."""

from __future__ import annotations

import json
import os
import re
import tempfile
import uuid
from dataclasses import dataclass
from functools import cached_property
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from .catalog import join_path

MODEL_FILE = "_MODEL.json"
_BATCH_ID = re.compile(r"[A-Za-z0-9_-]{1,64}")


@dataclass(frozen=True)
class TreeStore:
    """Trees under one root: `fs` and `croot` address them on the
    control plane, `sroot` is where Spark sees the same bytes."""

    fs: Any
    croot: str
    sroot: str

    def control(self, tree: str) -> str:
        return join_path(self.croot, tree)

    def data(self, tree: str) -> str:
        return join_path(self.sroot, tree)

    def built(self, tree: str) -> bool:
        from pyarrow import fs as pafs

        marker = join_path(self.control(tree), "_SUCCESS")
        return self.fs.get_file_info(marker).type == pafs.FileType.File

    def trees(self) -> list[str]:
        """Directory basenames under the root, `.tmp-` installs left
        out (their `_SUCCESS` may already exist mid-install)."""
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(self.croot, allow_not_found=True)
        return [
            i.base_name
            for i in self.fs.get_file_info(sel)
            if i.type == pafs.FileType.Directory
            and ".tmp-" not in i.base_name
        ]

    def read_model(self, tree: str) -> Optional[dict]:
        """The tree's `_MODEL.json` sidecar, None when it has none."""
        from pyarrow import fs as pafs

        path = join_path(self.control(tree), MODEL_FILE)
        if self.fs.get_file_info(path).type != pafs.FileType.File:
            return None
        with self.fs.open_input_stream(path) as f:
            return json.loads(f.read().decode())

    def remove(self, tree: str) -> None:
        try:
            self.fs.delete_dir(self.control(tree))
        except OSError:
            pass

    def row_count(self, tree: str) -> int:
        """Exact row count of a parquet tree from its footers, on the
        control plane. Σ footer num_rows is what Spark's own
        metadata-only count reads, but `spark.read.parquet().count()`
        still schedules a task per file; index bookkeeping calls this
        per installed tree, so no Spark job is run for it. Walks the
        partition directories and skips control files."""
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(
            self.control(tree), recursive=True, allow_not_found=True
        )
        n = 0
        for info in self.fs.get_file_info(sel):
            if (
                info.type == pafs.FileType.File
                and info.base_name.endswith(".parquet")
                and not info.base_name.startswith(("_", "."))
            ):
                with self.fs.open_input_file(info.path) as f:
                    n += pq.ParquetFile(f).metadata.num_rows
        return n

    def install(
        self,
        tree: str,
        frame: DataFrame,
        model: Optional[dict] = None,
        *,
        partition_by: Optional[str] = None,
        fmt: str = "parquet",
    ) -> bool:
        """Write `frame` (and the `model` sidecar) to a `.tmp-` tree and
        move it into place as `tree`. A failed move that finds a
        COMPLETE tree in place lost a race: the winner is trusted and
        the tmp tree dropped. An incomplete tree in the way (a crashed
        writer) is evicted and the move retried once. True when `tree`
        is built afterwards."""
        tmp = f"{tree}.tmp-{os.getpid()}"
        writer = frame.write.mode("overwrite")
        if partition_by is not None:
            writer = writer.partitionBy(partition_by)
        writer.format(fmt).save(self.data(tmp))
        if model is not None:
            path = join_path(self.control(tmp), MODEL_FILE)
            with self.fs.open_output_stream(path) as f:
                f.write(json.dumps(model).encode())
        try:
            self.fs.move(self.control(tmp), self.control(tree))
        except OSError:
            if self.built(tree):
                self.remove(tmp)
            else:
                self.remove(tree)
                try:
                    self.fs.move(self.control(tmp), self.control(tree))
                except OSError:
                    self.remove(tmp)
        return self.built(tree)


def open_store(
    index_root: Optional[str] = None,
    filesystem: Any = None,
    spark_root: Optional[str] = None,
) -> TreeStore:
    """The store at `index_root`, in one of three forms:

    - default: a per-user mode-0700 local cache dir (`secure_private_dir`,
      never a world-shared /tmp path — another user's pre-created tree
      with a `_SUCCESS` marker must never be trusted);
    - `index_root` with a scheme ("s3://bucket/ann", "hdfs://…"): the
      control plane through `pyarrow.fs.FileSystem.from_uri`, Spark
      reads and writes the URI verbatim;
    - an injected `filesystem` (tests: a SubTreeFileSystem that breaks
      any leftover os.* access): `index_root` is the root inside it and
      `spark_root` says where Spark sees the same bytes."""
    from pyarrow import fs as pafs

    if filesystem is not None:
        if index_root is None or spark_root is None:
            raise ValueError(
                "injected filesystem needs index_root + spark_root"
            )
        return TreeStore(filesystem, index_root, spark_root)
    if index_root is not None and "://" in index_root:
        fs, inner = pafs.FileSystem.from_uri(index_root)
        return TreeStore(fs, inner, index_root)
    if index_root is None:
        from .functions.paths import secure_private_dir

        uid = os.getuid() if hasattr(os, "getuid") else 0
        index_root = secure_private_dir(
            os.path.join(tempfile.gettempdir(), f"spark_graft_ivf-u{uid}")
        )
    return TreeStore(pafs.LocalFileSystem(), index_root, index_root)


class VersionedTree:
    """One index in a store: the base tree `name`, its
    `<name>.delta.<batch_id>` siblings and the base sidecar. Built by
    `open_tree`, which first repairs an interrupted swap. The sidecar
    and the live-delta list are read once per handle and re-read after
    this handle installs or swaps a base."""

    def __init__(self, store: TreeStore, name: str):
        self.store = store
        self.name = name
        self._listed = store.trees()
        self.built = self._recover()

    def _recover(self) -> bool:
        """Finish or roll back an interrupted swap; True when a base is
        built afterwards. A crash between the swap's two renames leaves
        no base tree, and a rebuild over that gap would write a sidecar
        without `compacted_through` and serve the absorbed deltas
        twice. With the base missing, a COMPLETE `.compact-` tree is the
        newer state (base plus absorbed deltas) and is installed; else a
        COMPLETE `.old-` tree is the pre-swap state and is restored.
        With the base present, surviving `.compact-`/`.old-` trees are
        leftovers of a finished swap and are removed. Idempotent."""
        staged = sorted(
            t
            for t in self._listed
            if t.startswith((self.name + ".compact-", self.name + ".old-"))
            and self.store.built(t)
        )
        if self.store.built(self.name):
            for t in staged:
                self.store.remove(t)
            return True
        compacts = [t for t in staged if ".compact-" in t[len(self.name):]]
        src = (compacts or staged or [None])[-1]
        if src is None:
            return False
        self.store.fs.move(
            self.store.control(src), self.store.control(self.name)
        )
        for t in staged:
            if t != src:
                self.store.remove(t)
        return True

    def _forget(self) -> None:
        self.__dict__.pop("model", None)
        self.__dict__.pop("deltas", None)

    @cached_property
    def model(self) -> Optional[dict]:
        """The base tree's sidecar, None for a missing or pre-sidecar
        base."""
        return self.store.read_model(self.name)

    @property
    def absorbed(self) -> set:
        """Deltas the base already holds (`compacted_through`): their
        trees may outlive a crashed cleanup, and serving them again
        would double every absorbed row."""
        return set((self.model or {}).get("compacted_through", []))

    @cached_property
    def deltas(self) -> list[str]:
        """The live deltas: built `<name>.delta.*` trees the base has
        not absorbed, oldest first by basename (batch ids are chosen by
        the caller, so a caller that wants an order picks sortable
        ids)."""
        absorbed = self.absorbed
        return sorted(
            t
            for t in self._listed
            if t.startswith(self.name + ".delta.")
            and t not in absorbed
            and self.store.built(t)
        )

    def require_model(self, why: str) -> dict:
        """The base sidecar, refusing a missing base (`why` says what
        the caller cannot do without one) or a base built before
        sidecars existed."""
        if not self.built:
            raise ValueError(f"base index tree not built — {why}")
        if self.model is None:
            raise ValueError(
                "base tree has no _MODEL.json sidecar (an older build) — "
                "rebuild the index"
            )
        return self.model

    def foreign_deltas(
        self, key: Optional[str]
    ) -> list[tuple[str, Optional[str]]]:
        """(delta, its model key) for every live delta whose sidecar
        names a model other than `key`."""
        out = []
        for d in self.deltas:
            dm = self.store.read_model(d)
            dk = dm["model_key"] if dm else None
            if dk != key:
                out.append((d, dk))
        return out

    def gate(self, key: Optional[str], label: str) -> None:
        """Refuse LOUDLY to mix models: a delta encoded under another
        model than `key` would silently corrupt every score read
        through it."""
        for d, dk in self.foreign_deltas(key)[:1]:
            raise ValueError(
                f"{label}: delta {d} was encoded under model {dk!r} but "
                f"the base serves {key!r} — rebuild instead of mixing models"
            )

    def read(
        self,
        spark: SparkSession,
        label: str,
        columns: Optional[tuple] = None,
    ) -> DataFrame:
        """The served table: the base plus every live delta, one
        `unionByName` chain (each tree keeps its partition layout, so a
        partition filter prunes per tree). When the base has a sidecar
        every delta must carry its model key (`gate`)."""

        def part(tree: str) -> DataFrame:
            df = spark.read.parquet(self.store.data(tree))
            return df.select(*columns) if columns else df

        if self.deltas and self.model is not None:
            self.gate(self.model["model_key"], label)
        out = part(self.name)
        for d in self.deltas:
            out = out.unionByName(part(d))
        return out

    def staleness(self, rows: Callable[[str], int]) -> tuple[int, int, int]:
        """(n_base, n_appended, milli): the rows `rows(tree)` counts in
        the base and in the live deltas, and the appended share in
        integer milli (truncating division of non-negative counts)."""
        n_base = rows(self.name)
        n_appended = sum(rows(d) for d in self.deltas)
        total = n_base + n_appended
        milli = (n_appended * 1000) // total if total else 0
        return n_base, n_appended, milli

    def new_delta(self, batch_id: str) -> Optional[str]:
        """`<name>.delta.<batch_id>` for a batch still to install, None
        when that batch is already installed or absorbed — re-encoding
        it would double its rows, so an append is idempotent per batch
        id. An id outside `[A-Za-z0-9_-]{1,64}` is refused: `a/b` or
        `x.tmp-1` would install a tree `deltas` never serves, while a
        re-append would still find it built and skip."""
        if not _BATCH_ID.fullmatch(batch_id):
            raise ValueError(f"batch_id {batch_id!r} must be [A-Za-z0-9_-]+")
        dname = f"{self.name}.delta.{batch_id}"
        if self.store.built(dname) or dname in self.absorbed:
            return None
        return dname

    def install_delta(
        self, dname: str, frame: DataFrame, model: dict, partition_by: str
    ) -> None:
        if not self.store.install(
            dname, frame, model, partition_by=partition_by
        ):
            raise OSError(f"failed to install delta tree {dname}")

    def install_base(
        self, frame: DataFrame, model: dict, partition_by: str
    ) -> bool:
        self.built = self.store.install(
            self.name, frame, model, partition_by=partition_by
        )
        self._forget()
        return self.built

    def swap(
        self,
        frame: DataFrame,
        model: dict,
        partition_by: str,
        pre_swap: Optional[Callable[[], Any]] = None,
    ) -> int:
        """Replace the base with `frame`, absorbing every live delta:
        the one two-rename discipline shared by compaction and retrain.
        Returns the number of deltas absorbed.

        1. The new tree is FULLY installed under `<name>.compact-<tag>`
           while the old base still serves. Its sidecar is `model` plus
           `compacted_through`: every delta absorbed so far, so once
           it is the base, delta trees a crash leaves behind are
           ignored by every read.
        2. `pre_swap` (optional) is an epoch barrier, called once after
           the staging tree is complete and before the flip, so a
           caller can drain in-flight reads of the old base first. A
           `pre_swap` that raises leaves the base untouched.
        3. Two renames: base → `.old-<tag>`, staging → base. A FAILED
           second rename moves the old base back and re-raises; a hard
           crash between them is repaired by the next `open_tree`. The
           tag is unique per swap, not the pid: a long-lived driver
           swapping twice must not collide with its own leftovers.
        4. Removing the old base and the absorbed delta trees is
           best-effort and last."""
        absorbed = list(self.deltas)
        model = {
            **model,
            "compacted_through": sorted(self.absorbed | set(absorbed)),
        }
        tag = uuid.uuid4().hex[:8]
        staging = f"{self.name}.compact-{tag}"
        if not self.store.install(
            staging, frame, model, partition_by=partition_by
        ):
            raise OSError(f"failed to install staged tree {staging}")
        if pre_swap is not None:
            pre_swap()
        fs, base_c = self.store.fs, self.store.control(self.name)
        old = f"{self.name}.old-{tag}"
        fs.move(base_c, self.store.control(old))
        try:
            fs.move(self.store.control(staging), base_c)
        except OSError:
            fs.move(self.store.control(old), base_c)
            raise
        self._forget()
        self.store.remove(old)
        for d in absorbed:
            self.store.remove(d)
        return len(absorbed)


def open_tree(
    name: str,
    index_root: Optional[str] = None,
    filesystem: Any = None,
    spark_root: Optional[str] = None,
) -> VersionedTree:
    """The versioned tree `name` in the store `open_store` resolves,
    after repairing any interrupted swap — every index entry point
    opens its tree through here before using it."""
    return VersionedTree(open_store(index_root, filesystem, spark_root), name)
