"""SplinkDataFrame: the reference's result-handle API on top of a native
Spark DataFrame (reference internals/splink_dataframe.py:19-295).

In the reference, every Linker method returns a ``SplinkDataFrame`` —
an abstraction with ``as_pandas_dataframe()`` / ``as_record_list()`` /
``to_parquet()`` / ``drop_table_from_database_and_remove_from_cache()`` —
because its backends (DuckDB, SQLite, Postgres, Spark) expose different
native handles.  Here the backend is always Spark, so instead of hiding
the native handle behind an adapter we SUBCLASS the (classic) Spark
DataFrame: every reference accessor works, *and* every native Spark
operation (``.filter``, ``.join``, ``.toPandas``, ``.write``) keeps
working on the same object.  A migrating splink user's
``df_predict.as_pandas_dataframe(10)`` and a Spark user's
``df_predict.toPandas()`` are both first-class.

Divergence, by design: ``.columns`` keeps Spark's ``list[str]`` contract
(the reference returns ``list[InputColumn]``); the escaped variant is
available as ``columns_escaped``.

Under Spark Connect the classic DataFrame class is unavailable; the
wrap helpers then pass the plain DataFrame through unchanged (documented
limitation — all engine functionality still works, only the reference
accessor aliases are absent).
"""

from __future__ import annotations

import logging
import os
import uuid
from typing import Any, Optional

from pyspark.sql import DataFrame

try:  # classic (JVM-backed) sessions — the only mode this repo targets
    from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame

    _HAVE_CLASSIC = True
except ImportError:  # pragma: no cover - Spark Connect
    _ClassicDataFrame = DataFrame  # type: ignore[assignment,misc]
    _HAVE_CLASSIC = False

logger = logging.getLogger(__name__)


def _ascii_uid(n: int = 8) -> str:
    return uuid.uuid4().hex[:n]


class SplinkDataFrame(_ClassicDataFrame):
    """A Spark DataFrame that also speaks the reference's result-handle API.

    Reference parity (internals/splink_dataframe.py):

    - ``templated_name`` / ``physical_name`` / ``metadata`` /
      ``created_by_splink`` / ``sql_used_to_create`` attributes
    - ``as_record_list(limit)`` / ``as_dict(limit)`` /
      ``as_pandas_dataframe(limit)`` / ``as_pyarrow_table(limit)`` /
      ``as_duckdbpyrelation(limit)`` / ``as_spark_dataframe()``
    - ``to_parquet(filepath, overwrite)`` / ``to_csv(filepath, overwrite)``
    - ``query_sql(sql)`` — run SQL referencing this frame by its physical
      (or templated) name
    - ``drop_table_from_database_and_remove_from_cache()`` — here:
      unpersist + drop any temp views registered under its names
    """

    def __new__(cls, *args, **kwargs):
        # the pyspark parent defines a dispatching __new__ that rejects the
        # subclass's extra keyword arguments; construction goes through
        # __init__ only
        return object.__new__(cls)

    def __init__(
        self,
        jdf,
        session,
        templated_name: str,
        physical_name: Optional[str] = None,
        metadata: Optional[dict[str, Any]] = None,
        created_by_splink: bool = True,
    ):
        super().__init__(jdf, session)
        self.templated_name = templated_name
        self.physical_name = physical_name or f"{templated_name}_{_ascii_uid()}"
        self.metadata = dict(metadata or {})
        self.created_by_splink = created_by_splink
        self.sql_used_to_create: str = ""
        self._views_registered: set[str] = set()

    # -- identity ----------------------------------------------------------
    @property
    def physical_and_template_names_equal(self) -> bool:
        return self.templated_name == self.physical_name

    @property
    def columns_escaped(self) -> list[str]:
        return [f"`{c}`" for c in self.columns]

    @property
    def dataset_display_name(self) -> str:
        return self.metadata.get("dataset_display_name", self.templated_name)

    @dataset_display_name.setter
    def dataset_display_name(self, value: str) -> None:
        self.metadata["dataset_display_name"] = value

    # -- data retrieval ------------------------------------------------------
    def _limited(self, limit: Optional[int]) -> DataFrame:
        return self.limit(int(limit)) if limit is not None else self

    def as_record_list(self, limit: Optional[int] = None) -> list[dict[str, Any]]:
        """Rows as a list of dicts (reference splink_dataframe.py:142-159)."""
        return [r.asDict(recursive=True) for r in self._limited(limit).collect()]

    # pre-v5 reference name, kept as an alias for migrating notebooks
    as_record_dict = as_record_list

    def as_dict(self, limit: Optional[int] = None) -> dict[str, list[Any]]:
        """Columns → list-of-values dict (reference splink_dataframe.py:161-177)."""
        pdf = self.as_pandas_dataframe(limit)
        return {c: pdf[c].tolist() for c in pdf.columns}

    def as_pandas_dataframe(self, limit: Optional[int] = None):
        """Arrow-batched collect to pandas (reference splink_dataframe.py:203-222)."""
        return self._limited(limit).toPandas()

    def as_pyarrow_table(self, limit: Optional[int] = None):
        """Arrow table without a pandas hop (reference splink_dataframe.py:179-201)."""
        return self._limited(limit).toArrow()

    def as_duckdbpyrelation(self, limit: Optional[int] = None):
        """DuckDB relation over the collected Arrow table — the reference's
        DuckDB-backend accessor (splink_dataframe.py:224-243), useful for
        local follow-up SQL on a small result."""
        import duckdb

        tbl = self.as_pyarrow_table(limit)
        return duckdb.from_arrow(tbl)

    def as_spark_dataframe(self) -> DataFrame:
        """The plain Spark handle (reference spark backend accessor). The
        object itself already IS a DataFrame; this returns an un-subclassed
        view for callers that type-switch on the concrete class."""
        return DataFrame(self._jdf, self.sparkSession)

    # -- persistence -----------------------------------------------------------
    @staticmethod
    def check_file_exists(filepath: str) -> None:
        if os.path.exists(filepath):
            raise ValueError(
                f"The filepath {filepath} already exists. Set overwrite=True "
                "to overwrite it."
            )

    def to_parquet(self, filepath: str, overwrite: bool = False) -> None:
        """Write as parquet (reference splink_dataframe.py:256-269); refuses
        to clobber unless ``overwrite=True``."""
        if not overwrite:
            self.check_file_exists(filepath)
        self.write.mode("overwrite" if overwrite else "errorifexists").parquet(
            filepath
        )

    def to_csv(self, filepath: str, overwrite: bool = False) -> None:
        """Write as CSV with header (reference splink_dataframe.py:271-284)."""
        if not overwrite:
            self.check_file_exists(filepath)
        self.write.mode("overwrite" if overwrite else "errorifexists").option(
            "header", "true"
        ).csv(filepath)

    # -- SQL access --------------------------------------------------------------
    def query_sql(self, sql: str) -> "SplinkDataFrame":
        """Run SQL that references this frame by ``physical_name`` or
        ``templated_name`` (reference splink_dataframe.py:114-140). Both
        names are registered as temp views on first use."""
        for name in (self.physical_name, self.templated_name):
            self.createOrReplaceTempView(name)
            self._views_registered.add(name)
        out = self.sparkSession.sql(sql)
        sdf = wrap_df(out, templated_name="__splink__query_sql")
        sdf.sql_used_to_create = sql
        return sdf

    # -- lifecycle -----------------------------------------------------------------
    def _check_drop_table_created_by_splink(
        self, force_non_splink_table: bool = False
    ) -> None:
        if not (self.created_by_splink or force_non_splink_table):
            raise ValueError(
                f"You've asked to drop table {self.physical_name} from the "
                "database which is not a table created by Splink. If you "
                "really want to drop this table, set "
                "force_non_splink_table=True"
            )

    def drop_table_from_database_and_remove_from_cache(
        self, force_non_splink_table: bool = False
    ) -> None:
        """Release the result: unpersist any cached partitions and drop the
        temp views registered by :meth:`query_sql` (reference
        splink_dataframe.py:89-112 — there it drops a physical table; here
        the 'table' is a lazy plan plus optional cache/views)."""
        self._check_drop_table_created_by_splink(force_non_splink_table)
        try:
            self.unpersist(blocking=False)
        except Exception:
            logger.warning("could not unpersist %s", self.physical_name, exc_info=True)
        catalog = self.sparkSession.catalog
        for name in list(self._views_registered):
            try:
                catalog.dropTempView(name)
            except Exception:
                logger.warning("could not drop temp view %s", name, exc_info=True)
            self._views_registered.discard(name)

    def _repr_pretty_(self, p, cycle) -> None:  # pragma: no cover - notebook
        msg = (
            f"Splink DataFrame representing table: `{self.physical_name}`, "
            "backed by a Spark logical plan. To retrieve records, use "
            "as_record_list(limit), as_pandas_dataframe(limit) or any "
            "native Spark action."
        )
        p.text(msg)


def wrap_df(
    df: DataFrame,
    templated_name: str,
    metadata: Optional[dict[str, Any]] = None,
) -> DataFrame:
    """Re-type a plain DataFrame as a SplinkDataFrame sharing the same
    logical plan (zero-copy: same JVM Dataset). Passes through unchanged
    when the input is already wrapped, isn't a classic DataFrame (Spark
    Connect), or isn't a DataFrame at all."""
    if not _HAVE_CLASSIC or isinstance(df, SplinkDataFrame):
        return df
    if not isinstance(df, _ClassicDataFrame):
        return df
    out = SplinkDataFrame(
        df._jdf, df.sparkSession, templated_name, metadata=metadata
    )
    # carry over ad-hoc instance attributes the engine hangs on results
    # (e.g. predict()'s `_splink_narrow` core handle)
    for k, v in df.__dict__.items():
        if k not in out.__dict__:
            out.__dict__[k] = v
    return out


#: Linker namespace methods whose DataFrame result carries a reference
#: templated name different from ``__splink__df_<method>``.
_TEMPLATED_NAME_OVERRIDES = {
    "predict": "__splink__df_predict",
    "deterministic_link": "__splink__df_predict",
    "compute_blocked_pairs_for_predict": "__splink__blocked_id_pairs",
    "compute_blocked_pairs_for_predict_chunk": "__splink__blocked_id_pairs",
    "cluster_pairwise_predictions_at_threshold": "__splink__clusters_at_threshold",
    "cluster_using_single_best_links": "__splink__clusters_at_threshold",
    "compute_graph_metrics": "__splink__graph_metrics",
    "compute_tf_table": "__splink__df_tf",
}


def wrap_namespace_outputs(ns: Any) -> None:
    """Wrap every public method of a Linker namespace object so plain
    DataFrame returns come back as SplinkDataFrames.

    Applied once per namespace instance at Linker construction. Explicit
    opt-out: methods already returning a SplinkDataFrame, or returning
    non-DataFrame values (charts, dicts, floats), pass through untouched.
    This is the single choke point that gives the whole Linker surface the
    reference's result-handle API without editing every return site.
    """
    import functools
    import inspect

    for name, member in inspect.getmembers(type(ns), predicate=inspect.isfunction):
        if name.startswith("_"):
            continue

        templated = _TEMPLATED_NAME_OVERRIDES.get(name, f"__splink__df_{name}")

        def make(fn, templated_name):
            @functools.wraps(fn)
            def wrapped(self, *args, **kwargs):
                out = fn(self, *args, **kwargs)
                if isinstance(out, DataFrame):
                    return wrap_df(out, templated_name)
                return out

            return wrapped

        # idempotent: skip methods wrapped by a previous Linker init
        if getattr(member, "_splink_df_wrapped", False):
            continue
        wrapped = make(member, templated)
        wrapped._splink_df_wrapped = True  # type: ignore[attr-defined]
        setattr(type(ns), name, wrapped)
