"""The Linker facade: settings + input DataFrames + component namespaces.

Reference: splink/internals/linker.py:66-174 — component namespaces
(``inference``, ``training``, ``clustering``, ``evaluation``,
``blocking_analysis``, ``table_management``; :167-174). Here each namespace is
a thin object over pure DataFrame-pipeline functions in ``internals/``.
"""

from __future__ import annotations

import logging
from typing import Mapping, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .internals.blocking import (
    BlockingRule,
    _pair_filter,
    block_using_rules,
    count_comparisons_per_rule,
    cross_rule,
    suffix_all,
)
from .internals.comparison_vectors import (
    blocked_pairs_with_columns,
    build_pairs_with_columns,
    compute_comparison_vectors,
    id_pairs,
)
from .internals.connected_components import (
    cluster_at_threshold,
    node_id_columns,
    threshold_edges,
)
from .internals.functions import register_udfs
from .internals.materialize import MaterializationPolicy
from .internals.misc import spread_to_cores
from .internals.predict import (
    predict_from_comparison_vectors,
    score_bound,
    where_score_can_reach,
)
from .internals.settings import Settings
from .internals.term_frequencies import (
    compute_term_frequencies,
    join_term_frequencies,
    tf_column_name,
)
from .internals.vertically_concatenate import vertically_concatenate

FrameInput = Union[DataFrame, Sequence[DataFrame], Mapping[str, DataFrame]]

logger = logging.getLogger(__name__)
# pipeline-stage observability level (splink_logging.PIPELINE) — the
# reference logs each enqueued pipeline stage; here stages are DataFrame
# plan points, logged as they are first built/persisted
from .internals.splink_logging import PIPELINE  # noqa: E402


class Linker:
    def __init__(
        self,
        input_table_or_tables: FrameInput,
        settings: Settings,
        materialization: Optional[MaterializationPolicy] = None,
        log_level=None,
        validate_settings: bool = True,
    ):
        # reference parity (linker.py Linker.__init__): settings may be the
        # Settings object, a settings dict, or a path to a settings JSON.
        # log_level / validate_settings are accepted for signature parity:
        # logging routes through splink_spark.logging, and settings are
        # validated eagerly in Settings.from_dict / the level builders.
        if isinstance(settings, str):
            settings = Settings.from_json(settings)  # path or JSON string
        elif isinstance(settings, dict):
            settings = Settings.from_dict(settings)
        self.settings = settings
        self._frames = _normalise_frames(input_table_or_tables)
        first = next(iter(self._frames.values()))
        self.spark: SparkSession = first.sparkSession
        register_udfs(self.spark)
        self.materialization = materialization or MaterializationPolicy()
        # debug mode (reference database_api.py:210-263): when True, each
        # pipeline stage is eagerly materialized as its own inspectable
        # temp view (__splink__df_concat, __splink__df_concat_with_tf,
        # __splink__blocked_id_pairs, __splink__df_comparison_vectors,
        # __splink__df_predict) with per-stage row counts and timings
        # printed — the step-wise execution a user reconstructing a wrong
        # gamma or an empty blocking join needs. Toggle at any time:
        # ``linker.debug_mode = True``. Materialized stages are also kept
        # in ``linker.debug_tables``.
        self.debug_mode = False
        self.debug_tables: dict[str, DataFrame] = {}
        self._concat: Optional[DataFrame] = None
        self._concat_with_tf: Optional[DataFrame] = None
        self._tf_tables: dict[str, DataFrame] = {}  # see tf_tables()
        self._dataset_names: Optional[list] = None  # see _blocking_nodes()
        # user-registered blocked pairs (table_management): when set,
        # predict() scores these instead of running the blocking join
        self._registered_blocked_pairs: Optional[DataFrame] = None

        if settings.needs_source_dataset and len(self._frames) < 2:
            raise ValueError(f"{settings.link_type} requires >= 2 input tables")

        if validate_settings:
            # reference settings_validation/log_invalid_columns.py: a missing
            # unique-id column is fatal; other referenced-but-absent columns
            # are logged so typos surface before a blocking join fails deep
            # in a plan
            from .internals.settings import validate_settings_columns

            # per input table, as the reference does: for link jobs a column
            # present in one frame but missing from another passes a
            # union-of-columns check and then fails deep inside a blocking
            # plan — validate each frame and name the offending table
            for tname, frame in self._frames.items():
                frame_cols = set(frame.columns)
                if settings.unique_id_column_name not in frame_cols:
                    raise ValueError(
                        f"unique_id_column_name "
                        f"{settings.unique_id_column_name!r} not found in "
                        f"input table {tname!r} columns {sorted(frame_cols)}"
                    )
                missing = validate_settings_columns(settings, frame_cols)
                if missing:
                    logger.warning(
                        "settings reference columns missing from input "
                        "table %r: %s — comparisons or blocking rules using "
                        "them will fail or silently produce null gammas",
                        tname,
                        missing,
                    )

        self.inference = LinkerInference(self)
        self.training = LinkerTraining(self)
        self.clustering = LinkerClustering(self)
        self.evaluation = LinkerEvaluation(self)
        self.blocking_analysis = LinkerBlockingAnalysis(self)
        self.misc = LinkerMisc(self)
        self.table_management = LinkerTableManagement(self)
        self.visualisations = LinkerVisualisations(self)

        # every public namespace method that returns a DataFrame returns it
        # re-typed as a SplinkDataFrame (still a native Spark DataFrame, plus
        # the reference's result-handle API: as_pandas_dataframe /
        # as_record_list / to_parquet / query_sql / drop_table_... —
        # reference internals/splink_dataframe.py:19-295)
        from .internals.splink_dataframe import wrap_namespace_outputs

        for _ns in (
            self.inference,
            self.training,
            self.clustering,
            self.evaluation,
            self.blocking_analysis,
            self.misc,
            self.table_management,
            self.visualisations,
        ):
            wrap_namespace_outputs(_ns)

    def _debug_stage(self, df: DataFrame, name: str) -> DataFrame:
        """When ``debug_mode`` is on, force this stage NOW (count — which
        populates any lazy persist in passing), register it as the temp
        view ``name`` and record it in ``debug_tables``; otherwise a
        no-op passthrough. Mirrors the reference's per-CTE debug
        execution (database_api.py:227-263) at this engine's natural
        stage boundaries — here stages are DataFrame plans, so
        "creating the table" = eager materialization + a catalog view."""
        if not self.debug_mode:
            return df
        import time as _time

        t0 = _time.time()
        n = df.count()
        df.createOrReplaceTempView(name)
        self.debug_tables[name] = df
        print("------")  # noqa: T201 (reference prints in debug mode too)
        print(  # noqa: T201
            f"--------Creating table: {name}--------\n"
            f"{n} rows; step ran in {_time.time() - t0:.2f}s"
        )
        return df

    # -- shared intermediates --------------------------------------------------
    def df_concat(self) -> DataFrame:
        """``__splink__df_concat`` (vertically_concatenate.py:84-93).

        Persisted lazily: it feeds the TF aggregations, deterministic-rule
        blocking (lambda estimation) and the clustering node/output joins —
        without a cache each of those re-reads and re-unions the inputs
        (the reference materializes this stage too, pipeline stage
        ``__splink__df_concat``).
        """
        if self._concat is None:
            df = vertically_concatenate(
                self._frames,
                self.settings.source_dataset_column_name
                if self.settings.needs_source_dataset
                else None,
            )
            self._dataset_names = getattr(df, "_splink_dataset_names", None)
            # every join over the records keeps their partitions; spread
            # them here, where it costs no job
            df = spread_to_cores(df)
            # lazy persist: the first consumer's job (usually a TF aggregate
            # or a broadcast build) populates the cache in passing — an eager
            # count here would add a full extra pass over the inputs
            df = self.materialization.materialize(df, "concat", eager=False)
            logger.log(PIPELINE, "stage __splink__df_concat built (%d inputs)",
                       len(self._frames))
            df = self._debug_stage(df, "__splink__df_concat")
            self._concat = df
        return self._concat

    def tf_tables(self) -> dict[str, DataFrame]:
        """The TF store (the reference's ``__splink__df_tf_<col>`` tables):
        ``{column: (column, <prefix><column>)}`` for every TF-adjusted column
        plus any added through ``table_management``. Each table is built
        once, persisted lazily and released by ``invalidate_cache``."""
        for column in self.settings.tf_columns:
            self._tf_table(column)
        return dict(self._tf_tables)

    def _tf_table(self, column: str) -> DataFrame:
        if column not in self._tf_tables:
            self._set_tf_table(column, compute_term_frequencies(
                self.df_concat(), column, tf_column_name(self.settings, column)))
        return self._tf_tables[column]

    def _set_tf_table(self, column: str, df: DataFrame) -> None:
        """The store's one writer. It releases the table it replaces and
        ``df_concat_with_tf``, which the next reader rebuilds."""
        for old in (self._tf_tables.get(column), self._concat_with_tf):
            if old is not None:
                self.materialization.release(old)
        self._concat_with_tf = None
        self._tf_tables[column] = self.materialization.materialize(
            df.select(column, tf_column_name(self.settings, column)),
            "term_frequencies", eager=False)

    def _with_tf(self, records: DataFrame) -> DataFrame:
        """``records`` LEFT-joined to the TF store: how every caller gets TF
        values. In a job with source datasets, records without that column
        get it as NULL first. The joins keep a count memoised on them."""
        n = getattr(records, "_splink_row_count", None)
        sd = self.settings.source_dataset_column_name
        if self.settings.needs_source_dataset and sd not in records.columns:
            sd_type = self.df_concat().schema[sd].dataType
            records = records.withColumn(sd, F.lit(None).cast(sd_type))
        out = join_term_frequencies(records, self.tf_tables())
        if n is not None:
            out._splink_row_count = n  # type: ignore[attr-defined]
        return out

    def df_concat_with_tf(self) -> DataFrame:
        """``__splink__df_concat_with_tf`` (vertically_concatenate.py:74-81):
        ``df_concat`` read through the TF store (``_with_tf``).

        Persisted: it feeds both sides of every blocking join and predict's
        node re-join — repeated scans of the same plan otherwise (the
        reference materializes exactly this stage, spark/database_api.py:
        292-312). A write to the TF store releases it.
        """
        if self._concat_with_tf is None:
            concat = self.df_concat()
            # lazy persist — the first consumer (a blocking join or a count
            # in build_pairs_with_columns) populates the cache
            df = self.materialization.materialize(
                self._with_tf(concat), "concat_with_tf", eager=False
            )
            # LEFT joins to unique-keyed TF tables keep the row count
            n = getattr(concat, "_splink_row_count", None)
            if n is not None:
                df._splink_row_count = n  # type: ignore[attr-defined]
            logger.log(PIPELINE, "stage __splink__df_concat_with_tf built "
                       "(%d tf columns)", len(self._tf_tables))
            df = self._debug_stage(df, "__splink__df_concat_with_tf")
            self._concat_with_tf = df
        return self._concat_with_tf

    def _blocking_nodes(
        self, link_type: str
    ) -> tuple[DataFrame, Optional[DataFrame]]:
        """The records a blocking join over the linker's input reads:
        ``(concat_with_tf, None)``, or for a two-dataset link_only job the
        (lower, upper) dataset split, so the join runs table-to-table
        instead of self-joining the union (blocking.py:637-659). The dataset
        names are the ones ``df_concat`` wrote, or else the caller's column
        read once per linker."""
        concat = self.df_concat_with_tf()
        sd = self.settings.source_dataset_column_name
        if link_type != "link_only" or not sd:
            return concat, None
        if self._dataset_names is None:
            self._dataset_names = [r[0] for r in concat.select(sd).distinct().collect()]
        if len(self._dataset_names) != 2:
            return concat, None
        split = tuple(concat.where(F.col(sd) == n) for n in sorted(self._dataset_names))
        # a filter of the persisted concat: its row count bounds the side's
        if getattr(concat, "_splink_row_count", None) is not None:
            split[0]._splink_row_count = concat._splink_row_count  # type: ignore[attr-defined]
        return split

    def blocked_pairs(
        self, rules: Optional[Sequence[BlockingRule]] = None, materialize: bool = True
    ) -> DataFrame:
        """``__splink__blocked_id_pairs`` — materialized by default, exactly the
        lineage-break point the reference marks (blocking.py:603-695)."""
        s = self.settings
        rules = list(rules or s.blocking_rules_to_generate_predictions)
        nodes, nodes_right = self._blocking_nodes(s.link_type)
        pairs = block_using_rules(
            nodes,
            rules,
            link_type=s.link_type,
            unique_id_column_name=s.unique_id_column_name,
            source_dataset_column_name=s.source_dataset_column_name
            if s.needs_source_dataset
            else None,
            nodes_right=nodes_right,
        )
        if materialize:
            pairs = pairs.repartition(self.materialization.repartition_count(pairs))
            pairs = self.materialization.materialize(pairs, "blocked_pairs")
            logger.log(PIPELINE, "stage __splink__blocked_id_pairs "
                       "materialized (%d rules)", len(rules))
            pairs = self._debug_stage(pairs, "__splink__blocked_id_pairs")
        return pairs

    def pairs_with_columns(
        self,
        rules: Optional[Sequence[BlockingRule]] = None,
        link_type: Optional[str] = None,
        nodes: Optional[DataFrame] = None,
        nodes_right: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Blocked pairs with their compared columns carried through the
        blocking join (``comparison_vectors.build_pairs_with_columns``);
        the arguments are ``comparison_vectors``'."""
        s = self.settings
        link_type = link_type or s.link_type
        if nodes is None:
            nodes, nodes_right = self._blocking_nodes(link_type)
        return build_pairs_with_columns(
            nodes,
            list(rules or s.blocking_rules_to_generate_predictions),
            s,
            nodes_right=nodes_right,
            link_type=link_type,
        )

    def comparison_vectors(
        self,
        pairs: Optional[DataFrame] = None,
        rules: Optional[Sequence[BlockingRule]] = None,
        nodes: Optional[DataFrame] = None,
        nodes_right: Optional[DataFrame] = None,
        link_type: Optional[str] = None,
        min_match_weight: Optional[float] = None,
    ) -> DataFrame:
        """The one place records become a gamma frame
        (``__splink__df_comparison_vectors``): records are blocked, id pairs
        are junction-joined.

        ``pairs`` in the id-pair contract (``comparison_vectors.id_pairs``:
        caller, labelled, registered, chunked or cluster pairs) are
        junction-joined onto the linker's own ``df_concat_with_tf``, so no
        ``nodes`` may come with them. Otherwise pairs are blocked from
        ``rules`` (default: the prediction rules) under ``link_type``
        (default: the settings') by ``build_pairs_with_columns``. ``nodes``
        are the TF-joined records to block, by default the linker's
        ``df_concat_with_tf`` (with the link_only split); pairs lie within
        them unless ``nodes_right`` gives a second record set for the right
        side. Caller-supplied records (new batches, single requests,
        training's hash samples) are blocked as given.

        Training reads its gammas here too: EM blocks on its training rule
        (over its ``max_pairs`` record sample when one is drawn), and
        u-sampling blocks its record sample with a ``TRUE`` rule.

        ``min_match_weight`` (set by the thresholded scorers) drops, before
        any gamma is computed, the pairs whose match weight cannot reach it
        (``predict.where_score_can_reach``).
        """
        s = self.settings
        if pairs is not None:
            if nodes is not None or nodes_right is not None:
                raise ValueError("pairs are junction-joined onto the linker's "
                                 "own records: pass no nodes with them")
            with_cols = blocked_pairs_with_columns(pairs, self.df_concat_with_tf(), s)
        else:
            with_cols = self.pairs_with_columns(rules, link_type, nodes, nodes_right)
        if min_match_weight is not None:
            with_cols = where_score_can_reach(with_cols, s, min_match_weight)
        return self._debug_stage(
            compute_comparison_vectors(with_cols, s),
            "__splink__df_comparison_vectors",
        )


class LinkerInference:
    """linker_components/inference.py."""

    def __init__(self, linker: Linker):
        self._l = linker

    def predict(
        self,
        threshold_match_probability: Optional[float] = None,
        threshold_match_weight: Optional[float] = None,
        num_chunks: int = 1,
        num_chunks_l: Optional[int] = None,
        num_chunks_r: Optional[int] = None,
        cache_result: bool = False,
    ) -> DataFrame:
        """The flagship query (inference.py:294-444): concat → TF → block →
        comparison vectors → score [→ threshold].

        Execution shape: the scored NARROW core (pair keys + gamma vector +
        tf values + match weight/probability — no wide compare columns) is
        lazily persisted, and the returned wide DataFrame re-attaches the
        record columns by joining the node table back on. Downstream
        consumers that only need scores + ids (clustering, truth-space,
        threshold sweeps) read the cached core and never re-run the junction
        join or the fuzzy-metric UDFs; consumers of the wide row pay only
        the (broadcastable) node re-join. This is the same materialization
        point the reference marks as ``__splink__df_predict``, kept narrow
        because the record columns are recoverable by key.

        ``num_chunks`` / ``num_chunks_l`` / ``num_chunks_r`` are accepted for
        reference parity (inference.py:294-444) and must be >= 1; the output
        is the same as unchunked for any value. Blocking, gammas and scores
        run as one fused plan into the narrow core; splitting the pair space
        into separate jobs would re-run that plan once per chunk. To score
        one slice of the pair space on its own, use ``predict_chunk``.

        A threshold prunes before the similarity functions run: pairs whose
        match weight cannot reach it, judged from the cheap null and
        exact-match levels alone, are dropped before the gamma projection
        (see ``_scored``). The output is identical to thresholding after
        scoring every pair, and only the survivors are persisted.
        ``_splink_score_bound`` on the output records the bound used.

        ``cache_result=True`` additionally persists the WIDE output (opt in
        when >2 downstream consumers scan the full-width rows).
        """
        chunks_l = num_chunks_l if num_chunks_l is not None else num_chunks
        chunks_r = num_chunks_r if num_chunks_r is not None else num_chunks
        if chunks_l < 1 or chunks_r < 1:
            raise ValueError("num_chunks values must be >= 1")
        s = self._l.settings
        # the narrow core below is the lineage break, so the blocking join is
        # NOT separately materialized — blocking → [junction →] gamma → score
        # run as ONE fused pipeline into the core's persist. A user-registered
        # pair table replaces the blocking join (reference
        # table_management.py:95-140).
        wide = self._scored(
            threshold_match_probability,
            threshold_match_weight,
            pairs=self._l._registered_blocked_pairs,
        )
        # narrow core: project away the compare-value columns (recoverable
        # by key), persist lazily, re-attach the record columns by node
        # re-join for the returned wide frame
        uid = s.unique_id_column_name
        sd = s.source_dataset_column_name if s.needs_source_dataset else None
        keep_prefixes = {uid} | ({sd} if sd else set())
        drop_cols = [
            c
            for c in wide.columns
            if (c.endswith("_l") or c.endswith("_r"))
            and c[:-2] not in keep_prefixes
            and not c.startswith(s.term_frequency_adjustment_column_prefix)
        ]
        persist = self._l.materialization.persist
        if not drop_cols:
            return persist(wide, "predict") if cache_result else wide
        # with a threshold the core holds only the surviving rows — at scale
        # a selective threshold means the cache holds ~1% of the pair table
        narrow = persist(wide.drop(*drop_cols), "predict")
        narrow = self._l._debug_stage(narrow, "__splink__df_predict")
        logger.log(PIPELINE, "stage __splink__df_predict narrow core "
                   "persisted (thresholded=%s)",
                   threshold_match_probability is not None
                   or threshold_match_weight is not None)
        rejoin_pairs = narrow.withColumnsRenamed(
            {f"{uid}_l": "join_key_l", f"{uid}_r": "join_key_r"}
            | ({f"{sd}_l": "source_dataset_l", f"{sd}_r": "source_dataset_r"} if sd else {})
        )
        rejoined = blocked_pairs_with_columns(
            rejoin_pairs, self._l.df_concat_with_tf(), s
        )
        # the node re-join re-attaches tf_* columns too — drop the core's
        # copies in favour of the node side's (identical values)
        dup_tf = [
            c for c in narrow.columns
            if c.startswith(s.term_frequency_adjustment_column_prefix)
        ]
        for c in dup_tf:
            rejoined = rejoined.drop(rejoin_pairs[c])
        out = rejoined.select(*wide.columns)
        out._splink_narrow = narrow  # type: ignore[attr-defined]
        out._splink_score_bound = wide._splink_score_bound  # type: ignore[attr-defined]
        return persist(out, "predict") if cache_result else out

    def _scored(
        self,
        threshold_match_probability: Optional[float] = None,
        threshold_match_weight: Optional[float] = None,
        **records,
    ) -> DataFrame:
        """The one scoring path: ``Linker.comparison_vectors(**records)``,
        then ``predict_from_comparison_vectors``. With a threshold, the pairs
        whose weight bound cannot reach it are dropped before the gamma
        projection, so the similarity functions never run on them; the
        threshold WHERE then decides the output exactly as without the
        bound. The bound (``predict.score_bound``, None when unthresholded)
        is attached to the result as ``_splink_score_bound``."""
        s = self._l.settings
        bound = score_bound(s, threshold_match_probability, threshold_match_weight)
        cv = self._l.comparison_vectors(
            **records,
            min_match_weight=bound["w_min"] if bound else None,
        )
        out = predict_from_comparison_vectors(
            cv,
            s,
            threshold_match_probability=threshold_match_probability,
            threshold_match_weight=threshold_match_weight,
        )
        out._splink_score_bound = bound  # type: ignore[attr-defined]
        return out

    def deterministic_link(self) -> DataFrame:
        """Pairs from the blocking rules alone, no scoring
        (inference.py:223-292)."""
        cv = self._l.comparison_vectors()
        return cv.drop(*[c.gamma_column_name for c in self._l.settings.comparisons])

    def score_pairs(self, id_pairs: DataFrame) -> DataFrame:
        """Score caller-supplied id pairs (inference.py:746-1021). ``id_pairs``
        needs columns join_key_l / join_key_r (unique ids), and
        source_dataset_l / _r in a link job."""
        return self._scored(pairs=_caller_pairs(id_pairs, self._l.settings, "user"))

    def predict_between(
        self,
        left: DataFrame,
        right: DataFrame,
        blocking_rules: Optional[Sequence[Union[str, BlockingRule]]] = None,
        threshold_match_probability: Optional[float] = None,
        threshold_match_weight: Optional[float] = None,
    ) -> DataFrame:
        """Blocked, scored predictions BETWEEN two record collections using
        the trained model — pairs across left/right only, never within
        (reference inference.py predict_between; left/right are roles, e.g.
        existing vs new, the incremental-linkage shape). TF values for both
        sides come from the linker's TF store. A threshold prunes the
        pairs that cannot reach it before the similarity functions run, and
        scores the rest once (see ``_scored``)."""
        from .internals.blocking import CustomRule

        s = self._l.settings
        return self._scored(
            threshold_match_probability,
            threshold_match_weight,
            rules=[
                r if isinstance(r, BlockingRule) else CustomRule(r)
                for r in (blocking_rules or s.blocking_rules_to_generate_predictions)
            ],
            nodes=self._l._with_tf(left),
            nodes_right=self._l._with_tf(right),
        )

    def compute_blocked_pairs_for_predict(self) -> DataFrame:
        """Materialise the candidate pairs predict() would score (reference
        inference.py:124-160) — write them out and re-register via
        ``table_management.register_blocked_pairs_for_predict`` to split
        blocking from scoring across jobs."""
        return self._l.blocked_pairs(materialize=True)

    def compute_blocked_pairs_for_predict_chunk(
        self,
        left_chunk: Optional[tuple] = None,
        right_chunk: Optional[tuple] = None,
    ) -> DataFrame:
        """One uid-hash chunk of the candidate pairs (reference
        inference.py:161-230): ``left_chunk``/``right_chunk`` are
        (index, num_chunks) tuples partitioning each pair endpoint by a
        deterministic pmod(xxhash64) split of its uid, so the union over
        all (i, j) chunks is exactly the full pair table."""
        pairs = self._l.blocked_pairs(materialize=False)
        for chunk, key in ((left_chunk, "join_key_l"), (right_chunk, "join_key_r")):
            if chunk is None:
                continue
            idx, total = chunk
            if not 0 <= idx < total:
                raise ValueError(f"chunk index {idx} not in [0, {total})")
            pairs = pairs.where(
                F.pmod(F.xxhash64(F.col(key)), F.lit(total)) == idx
            )
        return pairs

    def predict_chunk(
        self,
        left_chunk: Optional[tuple] = None,
        right_chunk: Optional[tuple] = None,
        threshold_match_probability: Optional[float] = None,
        threshold_match_weight: Optional[float] = None,
    ) -> DataFrame:
        """Compute and score blocking for a single slice of the pair space
        (reference inference.py:446-530) — e.g. one worker per slice in a
        split run. ``left_chunk``/``right_chunk`` are (index, num_chunks)
        tuples using the ``compute_blocked_pairs_for_predict_chunk`` split,
        so the union over all (i, j) slices equals the full predict output.
        Not supported when blocked pairs were manually registered (matching
        the reference): call ``predict()`` to score a registered table. A
        threshold prunes the pairs that cannot reach it before the
        similarity functions run, and scores the rest once (see
        ``_scored``)."""
        if self._l._registered_blocked_pairs is not None:
            raise ValueError(
                "predict_chunk is not supported when blocked pairs have been "
                "registered via register_blocked_pairs_for_predict; use "
                "predict() to score the registered table"
            )
        return self._scored(
            threshold_match_probability,
            threshold_match_weight,
            pairs=self.compute_blocked_pairs_for_predict_chunk(left_chunk, right_chunk),
        )

    def score_pair(
        self, record_left: Union[dict, DataFrame], record_right: Union[dict, DataFrame]
    ) -> DataFrame:
        """Score one pairwise comparison (reference inference.py:746-820);
        dict inputs route through compare_two_records, single-row frames are
        converted."""
        def _as_dict(x):
            if isinstance(x, DataFrame):
                rows = x.limit(2).collect()
                if len(rows) != 1:
                    raise ValueError("score_pair frames must contain exactly one row")
                return rows[0].asDict()
            return x

        return self.compare_two_records(_as_dict(record_left), _as_dict(record_right))

    def find_matches_to_new_records(self, new_records: DataFrame) -> DataFrame:
        """Link a new batch against the indexed base (inference.py:1156-1511
        predict_between + find_matches_to_new_records.py:14-60):
        ``predict_between`` with the cached ``df_concat_with_tf`` on the
        left. New records get TF values from the persisted TF store (the
        register_term_frequency_lookup semantics, table_management.py:204-253).
        """
        return self._scored(
            nodes=self._l.df_concat_with_tf(),
            nodes_right=self._l._with_tf(new_records),
        )

    def predict_within(self, new_records: DataFrame) -> DataFrame:
        """Dedupe within a new batch using the trained model + the linker's
        TF store (inference.py predict_within)."""
        return self._scored(
            nodes=self._l._with_tf(new_records),
            link_type="dedupe_only",
        )

    def score_missing_cluster_edges(
        self, df_clustered: DataFrame, df_predict: DataFrame
    ) -> DataFrame:
        """Score within-cluster pairs the blocking rules never produced
        (inference.py:574-745): self-join clusters on cluster_id, keep each
        pair the settings' link type allows once (the blocking join's pair
        filter, so a link_only job pairs across datasets only), anti-join
        the pairs ``df_predict`` already scored, score the remainder. Pairs
        are keyed by (source_dataset, uid) when the job has source datasets,
        so equal uids in different datasets still pair."""
        s = self._l.settings
        uid = s.unique_id_column_name
        sd = s.source_dataset_column_name
        members = df_clustered.select(
            "cluster_id", uid, *([sd] if s.needs_source_dataset else [])
        )
        in_cluster = suffix_all(members, "_l").join(
            suffix_all(members, "_r"),
            on=(F.col("cluster_id_l") == F.col("cluster_id_r"))
            & _pair_filter(s.link_type, uid, sd),
        )
        keys = dict(uid=(f"{uid}_l", f"{uid}_r"), source_dataset=(f"{sd}_l", f"{sd}_r"))
        missing = id_pairs(in_cluster, s, "missing_cluster_edge", **keys)
        predicted = id_pairs(df_predict, s, "predict", **keys).drop("match_key")
        missing = missing.join(predicted, on=predicted.columns, how="left_anti")
        return self._scored(pairs=missing)

    def compare_two_records(self, record_1: dict, record_2: dict) -> DataFrame:
        """realtime.py:44-159 — score one pair: ``predict_between`` over two
        one-row frames under a cross rule.

        Each record is its own side's node table, so the pair is exactly
        (record_1, record_2) even when both carry the same unique id; a
        missing unique id defaults to 0 (left) and 1 (right).

        Record values are coerced to the base table's schema (ISO date /
        timestamp / numeric strings accepted, unparseable → NULL), matching
        the implicit casts users get when the reference registers records
        through its SQL backend. TF values come from the TF store."""
        uid = self._l.settings.unique_id_column_name
        schema = self._l.df_concat().schema
        # nullable fields: a record may lack a key the base never misses
        nullable = StructType([StructField(f.name, f.dataType) for f in schema])
        sides = []
        for record, default_uid in ((record_1, 0), (record_2, 1)):
            r = _coerce_record_to_schema(record, schema)
            r.setdefault(uid, default_uid)
            sides.append(self._l.spark.createDataFrame([r], schema=nullable))
            sides[-1]._splink_row_count = 1  # type: ignore[attr-defined]
        return self.predict_between(*sides, blocking_rules=[cross_rule()])


class LinkerTraining:
    """linker_components/training.py — filled in by internals/training.py."""

    def __init__(self, linker: Linker):
        self._l = linker

    def estimate_probability_two_random_records_match(
        self, deterministic_rules, recall: float, record_sample_proportion: float = 1.0
    ):
        from .internals.training import estimate_probability_two_random_records_match

        return estimate_probability_two_random_records_match(
            self._l, deterministic_rules, recall,
            record_sample_proportion=record_sample_proportion,
        )

    def estimate_u_using_random_sampling(
        self,
        max_pairs: float = 1e6,
        seed: Optional[int] = None,
        min_count_per_level: Optional[int] = None,
        num_chunks: int = 1,
        sampling_method: str = "xxhash64",
    ):
        from .internals.training import estimate_u_using_random_sampling

        return estimate_u_using_random_sampling(
            self._l,
            max_pairs=max_pairs,
            seed=seed,
            min_count_per_level=min_count_per_level,
            num_chunks=num_chunks,
            sampling_method=sampling_method,
        )

    def estimate_parameters_using_expectation_maximisation(self, blocking_rule, **kw):
        from .internals.training import estimate_parameters_using_em

        return estimate_parameters_using_em(self._l, blocking_rule, **kw)

    def estimate_m_from_label_column(self, label_column: str):
        from .internals.training import estimate_m_from_label_column

        return estimate_m_from_label_column(self._l, label_column)

    def estimate_m_from_pairwise_labels(self, labels: DataFrame):
        from .internals.training import estimate_m_from_pairwise_labels

        return estimate_m_from_pairwise_labels(self._l, labels)


class LinkerClustering:
    """linker_components/clustering.py."""

    def __init__(self, linker: Linker):
        self._l = linker

    def _graph(
        self,
        df_predict: DataFrame,
        threshold_match_probability: Optional[float] = None,
        edge_columns: Sequence = (),
        nodes: Optional[DataFrame] = None,
    ) -> tuple[DataFrame, DataFrame, bool]:
        """``(nodes, edges, edges_cached)``: the one place a clustering
        method reads pairs and keys nodes. ``nodes`` (default: the input)
        gains ``node_id``; ``edges`` are ``node_id_l, node_id_r``
        [, ``match_probability``], ``*edge_columns``, read from predict's
        persisted narrow core when attached (``edges_cached``). Node ids are
        ``(source_dataset, uid)`` composites exactly when the job has source
        datasets (uids are unique only per dataset)."""
        s = self._l.settings
        narrow = getattr(df_predict, "_splink_narrow", None)
        pairs = threshold_edges(
            df_predict if narrow is None else narrow, threshold_match_probability
        )
        sd = s.source_dataset_column_name if s.needs_source_dataset else None
        node, edge_l, edge_r = node_id_columns(s.unique_id_column_name, sd)
        scores = ["match_probability"] if "match_probability" in pairs.columns else []
        edges = pairs.select(
            edge_l.alias("node_id_l"), edge_r.alias("node_id_r"), *scores, *edge_columns
        )
        nodes = self._l.df_concat() if nodes is None else nodes
        return nodes.withColumn("node_id", node), edges, narrow is not None

    def cluster_pairwise_predictions_at_threshold(
        self,
        df_predict: DataFrame,
        threshold_match_probability: Optional[float] = None,
        threshold_match_weight: Optional[float] = None,
    ) -> DataFrame:
        """Reference clustering.py:43-179: threshold defaults to None (keep
        every edge — the deterministic-link output has no score column);
        a match-weight threshold converts via p = 2^w / (1 + 2^w)."""
        nodes, edges, edges_cached = self._graph(df_predict)
        return cluster_at_threshold(
            nodes,
            edges,
            threshold_match_probability=threshold_match_probability,
            threshold_match_weight=threshold_match_weight,
            materialization=self._l.materialization,
            edges_cheap_to_recompute=edges_cached,
        ).drop("node_id")

    def cluster_pairwise_predictions_at_multiple_thresholds(
        self, df_predict: DataFrame, thresholds: Sequence[float]
    ) -> DataFrame:
        from .internals.one_to_one import cluster_at_multiple_thresholds

        nodes, edges, _ = self._graph(df_predict)
        return cluster_at_multiple_thresholds(
            edges, nodes.select("node_id"), list(thresholds),
            materialization=self._l.materialization,
        )

    def cluster_using_single_best_links(
        self,
        df_predict: DataFrame,
        threshold_match_probability: float = 0.5,
        ties: str = "drop",
        duplicate_free_datasets=None,
    ) -> DataFrame:
        from .internals.one_to_one import cluster_using_single_best_links

        s = self._l.settings
        if not s.needs_source_dataset:
            raise ValueError("single-best-links clustering needs source datasets")
        sd = s.source_dataset_column_name
        nodes, edges, _ = self._graph(df_predict, edge_columns=[
            F.col(f"{sd}_l").alias("source_dataset_l"),
            F.col(f"{sd}_r").alias("source_dataset_r"),
        ])
        return cluster_using_single_best_links(
            edges,
            nodes.select("node_id", F.col(sd).alias("source_dataset")),
            threshold_match_probability=threshold_match_probability,
            ties=ties,
            duplicate_free_datasets=duplicate_free_datasets,
            materialization=self._l.materialization,
        )

    def compute_graph_metrics(
        self, df_predict: DataFrame, df_clustered: DataFrame,
        threshold_match_probability: float = 0.5,
    ) -> DataFrame:
        from .internals.connected_components import compute_graph_metrics

        nodes, edges, _ = self._graph(
            df_predict, threshold_match_probability, nodes=df_clustered
        )
        return compute_graph_metrics(edges, nodes.select("node_id", "cluster_id"))

    def compute_edge_metrics(
        self, df_predict: DataFrame, df_clustered: DataFrame,
        threshold_match_probability: float = 0.5,
    ) -> DataFrame:
        """Thresholded edges + is_bridge flag (reference edge_metrics.py:
        75-160, igraph-on-driver → here per-cluster Tarjan in applyInPandas)."""
        from .internals.connected_components import compute_edge_metrics

        nodes, edges, _ = self._graph(
            df_predict, threshold_match_probability, nodes=df_clustered
        )
        return compute_edge_metrics(edges, nodes.select("node_id", "cluster_id"))


class LinkerEvaluation:
    """linker_components/evaluation.py."""

    def __init__(self, linker: Linker):
        self._l = linker

    @staticmethod
    def _accuracy_output(table: DataFrame, output_type: str):
        """Reference evaluation.py output_type switch: 'table' returns the
        truth-space DataFrame; the chart types return a Vega-Lite spec built
        from it ('threshold_selection' is the reference's interactive
        two-panel tool: metric lines with hover selection driving the
        confusion-count panel). The collect is bounded: one row per distinct
        score threshold."""
        if output_type == "table":
            return table
        from .internals.chart_specs import (
            accuracy_chart_spec,
            precision_recall_chart_spec,
            roc_chart_spec,
            threshold_selection_tool_spec,
        )

        rows = [r.asDict() for r in table.collect()]
        if output_type == "roc":
            return roc_chart_spec(rows)
        if output_type == "precision_recall":
            return precision_recall_chart_spec(rows)
        if output_type == "threshold_selection":
            return threshold_selection_tool_spec(rows)
        if output_type == "accuracy":
            return accuracy_chart_spec(rows)
        raise ValueError(
            "output_type must be one of 'threshold_selection', 'roc', "
            f"'precision_recall', 'accuracy', 'table' — got {output_type!r}"
        )

    def accuracy_analysis_from_labels_column(
        self,
        labels_column: str,
        df_predict: Optional[DataFrame] = None,
        *,
        output_type: str = "threshold_selection",
        **_style_kwargs,
    ):
        from .internals.accuracy import truth_space_table_from_labels_column

        table = truth_space_table_from_labels_column(
            self._l, labels_column, df_predict
        )
        return self._accuracy_output(table, output_type)

    def accuracy_analysis_from_labels_table(
        self,
        labels: DataFrame,
        threshold_actual: float = 0.5,
        *,
        output_type: str = "threshold_selection",
        **_style_kwargs,
    ):
        """Truth space judged against a clerical pairwise labels table
        (unique_id_l, unique_id_r [, source_dataset_l/_r,
        clerical_match_score]) — every labelled pair is scored with the
        model whether or not blocking found it (reference
        evaluation.py accuracy_analysis_from_labels_table).
        ``output_type`` follows the reference: default
        'threshold_selection' returns a chart spec; pass 'table' for the
        truth-space DataFrame."""
        from .internals.accuracy import truth_space_table_from_labels_table

        table = truth_space_table_from_labels_table(
            self._l, labels, threshold_actual
        )
        return self._accuracy_output(table, output_type)

    def prediction_errors_from_labels_table(
        self,
        labels: DataFrame,
        threshold_match_probability: float = 0.5,
        threshold_actual: float = 0.5,
        include_false_positives: bool = True,
        include_false_negatives: bool = True,
    ) -> DataFrame:
        from .internals.accuracy import prediction_errors_from_labels_table

        return prediction_errors_from_labels_table(
            self._l,
            labels,
            threshold_match_probability=threshold_match_probability,
            threshold_actual=threshold_actual,
            include_false_positives=include_false_positives,
            include_false_negatives=include_false_negatives,
        )

    def prediction_errors_from_labels_column(
        self, labels_column: str, df_predict: Optional[DataFrame] = None,
        threshold_match_probability: float = 0.5, **kw,
    ) -> DataFrame:
        from .internals.accuracy import prediction_errors_from_labels_column

        return prediction_errors_from_labels_column(
            self._l, labels_column, df_predict, threshold_match_probability, **kw
        )

    def unlinkables_table(self) -> DataFrame:
        from .internals.accuracy import unlinkables_table

        return unlinkables_table(self._l)

    def unlinkables_chart(
        self,
        x_col: str = "match_weight",
        name_of_data_in_title: Optional[str] = None,
        as_dict: bool = False,
    ):
        """Reference-named chart (evaluation.py:352): Vega-Lite spec of the
        cumulative unlinkables proportion (reference charts.py
        UnlinkablesChart). The collect is bounded: one row per distinct
        2-dp-rounded self-match weight. The underlying DataFrame stays
        available via :meth:`unlinkables_table`."""
        from .internals.chart_specs import unlinkables_chart_spec

        rows = [r.asDict() for r in self.unlinkables_table().collect()]
        return unlinkables_chart_spec(rows)

    def labelling_tool_for_specific_record(
        self,
        unique_id,
        source_dataset: Optional[str] = None,
        match_weight_threshold: float = -4,
        out_path: Optional[str] = None,
        overwrite: bool = False,
        **_style_kwargs,
    ) -> DataFrame:
        """Data layer for the reference's clerical-labelling tool
        (labelling_tool.py:20-70): every input record is scored against the
        record of interest under a FULL block (all records on the ``_l``
        side), then filtered to ``match_weight > match_weight_threshold``.
        With ``out_path`` also writes a standalone HTML labelling page
        (candidate table + match/not/unsure radios + labels-JSON download —
        internals/dashboards.py); the scored candidate DataFrame is
        returned either way."""
        s = self._l.settings
        uid = s.unique_id_column_name
        sd = s.source_dataset_column_name if s.needs_source_dataset else None
        if sd and source_dataset is None:
            raise ValueError(
                "multiple input datasets: pass source_dataset= to identify "
                "the record"
            )
        records = self._l.df_concat_with_tf()
        record = records.where(F.col(uid) == unique_id)
        if sd:
            record = record.where(F.col(sd) == source_dataset)
        record._splink_row_count = 1  # type: ignore[attr-defined]  # one key, one record
        scored = self._l.inference._scored(rules=[cross_rule()], nodes=records, nodes_right=record)
        candidates = scored.where(F.col("match_weight") > match_weight_threshold)
        if out_path:
            import os

            if os.path.isfile(out_path) and not overwrite:
                raise ValueError(
                    f"The path {out_path} already exists. Set overwrite=True "
                    "to overwrite."
                )
            from .internals.dashboards import render_labelling_tool_html

            render_labelling_tool_html(
                [r.asDict() for r in candidates.collect()],
                unique_id_column_name=uid,
                out_path=out_path,
            )
        return candidates


class LinkerMisc:
    """linker_components/misc.py + table_management.py equivalents."""

    def __init__(self, linker: Linker):
        self._l = linker

    def query_sql(self, sql: str, views: Optional[Mapping[str, DataFrame]] = None) -> DataFrame:
        """The SQL escape hatch (database_api.py:180-205): register the given
        DataFrames (plus the concat) as temp views and run arbitrary SQL."""
        self._l.df_concat().createOrReplaceTempView("__splink__df_concat")
        for name, df in (views or {}).items():
            df.createOrReplaceTempView(name)
        return self._l.spark.sql(sql)

    def save_model_to_json(
        self, out_path: Optional[str] = None, overwrite: bool = False
    ) -> dict:
        """Save the model settings+parameters as JSON and return the dict
        (reference linker_components/misc.py:19-48: ``out_path=None`` means
        return-only; refuses to clobber unless ``overwrite=True``)."""
        d = self._l.settings.as_dict()
        if out_path is not None:
            import json
            import os

            if os.path.exists(out_path) and not overwrite:
                raise ValueError(
                    f"The path {out_path} already exists. Please provide a "
                    "different path or set overwrite=True."
                )
            with open(out_path, "w") as f:
                json.dump(d, f, indent=4)
        return d

    def invalidate_cache(self) -> None:
        """Drop cached intermediates (table_management cache invalidation)."""
        self._l.materialization.unpersist_all()
        self._l._concat = None
        self._l._concat_with_tf = None
        self._l._tf_tables = {}
        self._l._registered_blocked_pairs = None


class LinkerTableManagement:
    """linker_components/table_management.py equivalents. Spark-native
    mapping: 'registering a table' = handing the Linker a DataFrame to use in
    place of a computed intermediate; deletion = dropping the cache."""

    def __init__(self, linker: Linker):
        self._l = linker

    def compute_tf_table(self, column_name: str) -> DataFrame:
        """Term-frequency table for one column (reference
        table_management.py:37-93): the TF store's entry, built on first
        use, so ``df_concat_with_tf`` carries it too."""
        return self._l._tf_table(column_name)

    def register_term_frequency_lookup(
        self, df: DataFrame, column_name: str
    ) -> None:
        """Override the TF lookup for a column with a precomputed table —
        e.g. global frequencies estimated from a much larger corpus than the
        input (reference table_management.py:204-252). Expected columns:
        (``column_name``, ``<prefix><column_name>``), the prefix being the
        settings' ``term_frequency_adjustment_column_prefix``. It replaces
        the column's entry in the TF store."""
        expected = {column_name, tf_column_name(self._l.settings, column_name)}
        if not expected.issubset(set(df.columns)):
            raise ValueError(
                f"TF lookup for {column_name!r} needs columns {sorted(expected)}, "
                f"got {df.columns}"
            )
        self._l._set_tf_table(column_name, df)

    def register_table_predict(self, df: DataFrame) -> DataFrame:
        """Use a previously saved predict output (e.g. read back from
        parquet) for downstream clustering/evaluation without re-scoring
        (reference table_management.py:168-202). The frame is persisted and
        tagged the same way a fresh predict's narrow core is."""
        uid = self._l.settings.unique_id_column_name
        required = {f"{uid}_l", f"{uid}_r", "match_probability"}
        missing = required - set(df.columns)
        if missing:
            raise ValueError(
                f"register_table_predict: input is missing predict-output "
                f"columns {sorted(missing)} (got {df.columns}) — save and "
                "re-register predict's output (the narrow core or the wide "
                "frame both qualify)"
            )
        cached = self._l.materialization.persist(df, "predict")
        cached._splink_narrow = cached  # type: ignore[attr-defined]
        return cached

    def register_table(self, df: DataFrame, name: str) -> DataFrame:
        """Register a DataFrame as a temp view usable from
        ``linker.misc.query_sql`` (reference table_management.py:266-330)."""
        df.createOrReplaceTempView(name)
        return df

    def register_blocked_pairs_for_predict(self, df: DataFrame) -> DataFrame:
        """Use a precomputed candidate-pair table for predict() instead of
        running the blocking join (reference table_management.py:95-140).
        Expected columns: join_key_l / join_key_r (unique ids), optional
        match_key, and source_dataset_l/_r in a link job."""
        missing = {"join_key_l", "join_key_r"} - set(df.columns)
        if missing:
            raise ValueError(
                f"register_blocked_pairs_for_predict: missing {sorted(missing)} "
                f"(got {df.columns})"
            )
        df = _caller_pairs(df, self._l.settings, "registered")
        cached = self._l.materialization.persist(df, "blocked_pairs")
        self._l._registered_blocked_pairs = cached
        return cached

    def register_labels_table(self, df: DataFrame) -> DataFrame:
        """Persist a clerical pairwise labels table for the labels-table
        evaluation/training APIs (reference table_management.py:254-261).
        Expected columns: unique_id_l, unique_id_r
        [, source_dataset_l/_r, clerical_match_score]."""
        missing = {"unique_id_l", "unique_id_r"} - set(df.columns)
        if missing:
            raise ValueError(
                f"register_labels_table: missing {sorted(missing)} (got {df.columns})"
            )
        return self._l.materialization.persist(df, "labels")

    def invalidate_cache(self) -> None:
        self._l.misc.invalidate_cache()

    def delete_tables_created_by_splink_from_db(self) -> None:
        """Spark-native equivalent: unpersist every intermediate this linker
        materialized (reference table_management.py:263-264)."""
        self._l.misc.invalidate_cache()


class LinkerVisualisations:
    """linker_components/visualisations.py — DATA layer only. The reference
    renders Altair/Vega; chart rendering is out of engine scope (SURVEY §0),
    so each method returns the DataFrame / record list the chart consumes."""

    def __init__(self, linker: Linker):
        self._l = linker

    def match_weights_chart_data(self) -> list[dict]:
        from .internals.chart_data import match_weights_chart_data

        return match_weights_chart_data(self._l.settings)

    def parameter_estimate_comparisons_data(self) -> list[dict]:
        """Per-session m/u estimates per comparison level — the data behind
        the reference's parameter_estimate_comparisons_chart
        (visualisations.py): one record per (comparison, gamma, session,
        parameter) so divergent training sessions are visible."""
        out: list[dict] = []
        for comp in self._l.settings.comparisons:
            for lv in comp.comparison_levels:
                if lv.is_null_level:
                    continue
                for kind, ests in (("m", lv._m_estimates), ("u", lv._u_estimates)):
                    for i, v in enumerate(ests):
                        out.append(
                            {
                                "comparison": comp.output_column_name,
                                "comparison_vector_value": lv.comparison_vector_value,
                                "label": lv.label_for_charts,
                                "estimate_number": i,
                                "parameter": f"{kind}_probability",
                                "estimated_value": v,
                            }
                        )
        return out

    def m_u_parameters_chart_data(self) -> list[dict]:
        from .internals.chart_data import m_u_parameters_chart_data

        return m_u_parameters_chart_data(self._l.settings)

    def match_weights_histogram_data(
        self, df_predict: DataFrame, num_bins: int = 100
    ) -> DataFrame:
        from .internals.chart_data import match_weights_histogram_data

        df_predict = getattr(df_predict, "_splink_narrow", df_predict)
        return match_weights_histogram_data(df_predict, num_bins=num_bins)

    def comparison_vector_distribution(self, df_predict: DataFrame) -> DataFrame:
        from .internals.chart_data import comparison_vector_distribution

        df_predict = getattr(df_predict, "_splink_narrow", df_predict)
        return comparison_vector_distribution(df_predict, self._l.settings)

    def tf_adjustment_chart_data(
        self,
        output_column_name: str,
        n_most_freq: Optional[int] = 10,
        n_least_freq: Optional[int] = 10,
        vals_to_include=None,
    ) -> DataFrame:
        from .internals.chart_data import tf_adjustment_chart_data

        return tf_adjustment_chart_data(
            self._l,
            output_column_name,
            n_most_freq=n_most_freq,
            n_least_freq=n_least_freq,
            vals_to_include=vals_to_include,
        )

    def waterfall_data(self, scored_records) -> list[dict]:
        from .internals.chart_data import waterfall_data

        if isinstance(scored_records, DataFrame):
            scored_records = [r.asDict() for r in scored_records.collect()]
        return waterfall_data(self._l.settings, scored_records)

    def cluster_studio_sample(
        self,
        df_clustered: DataFrame,
        df_predict: DataFrame,
        sampling_method: str = "random",
        sample_size: int = 10,
        cluster_ids=None,
        threshold_match_probability: float = 0.5,
    ):
        from .internals.chart_data import cluster_studio_sample

        df_predict = getattr(df_predict, "_splink_narrow", df_predict)
        return cluster_studio_sample(
            df_clustered,
            df_predict,
            self._l.settings,
            sampling_method=sampling_method,
            sample_size=sample_size,
            cluster_ids=cluster_ids,
            threshold_match_probability=threshold_match_probability,
        )

    # -- reference-named chart methods -------------------------------------
    # Each returns a ready-to-render Vega-Lite spec dict (internals/
    # chart_specs.py — the same dict the reference's ``as_dict=True`` path
    # yields, renderable in notebooks via _repr_mimebundle_ and by
    # altair.Chart.from_dict). The underlying DATA stays available through
    # the ``*_chart_data`` methods above; signatures mirror the reference's
    # visualisations.py so user code runs unmodified, with pure-styling
    # arguments accepted and ignored.

    def match_weights_chart(self, as_dict: bool = False):
        """visualisations.py:59 → match weight per comparison level
        (reference chart spec: charts.py MatchWeightsChart)."""
        from .internals.chart_specs import match_weights_chart_spec

        return match_weights_chart_spec(self.match_weights_chart_data())

    def m_u_parameters_chart(self, as_dict: bool = False):
        """visualisations.py:161 → m/u per comparison level (reference
        charts.py MUParametersChart)."""
        from .internals.chart_specs import m_u_parameters_chart_spec

        return m_u_parameters_chart_spec(self.m_u_parameters_chart_data())

    def parameter_estimate_comparisons_chart(self, include_m: bool = True,
                                             include_u: bool = True):
        """visualisations.py:223 → per-session m/u estimates (reference
        charts.py ParameterEstimateComparisonsChart)."""
        from .internals.chart_specs import (
            parameter_estimate_comparisons_chart_spec,
        )

        recs = self.parameter_estimate_comparisons_data()
        kinds = (["m_probability"] if include_m else []) + (
            ["u_probability"] if include_u else []
        )
        return parameter_estimate_comparisons_chart_spec(
            [r for r in recs if r["parameter"] in kinds]
        )

    def match_weights_histogram(
        self, df_predict: DataFrame, target_bins: int = 100, width=None, height=None
    ):
        """visualisations.py:119 → histogram over binned match-weight counts
        (reference charts.py MatchWeightsHistogramChart). The collect is
        bounded by the bin count."""
        from .internals.chart_specs import match_weights_histogram_spec

        rows = [
            r.asDict()
            for r in self.match_weights_histogram_data(
                df_predict, num_bins=target_bins
            ).collect()
        ]
        return match_weights_histogram_spec(rows)

    def tf_adjustment_chart(
        self,
        output_column_name: str,
        n_most_freq: Optional[int] = 10,
        n_least_freq: Optional[int] = 10,
        vals_to_include=None,
        as_dict: bool = False,
    ):
        """visualisations.py:196 → TF adjustment per value (reference
        charts.py TFAdjustmentChart). The collect is bounded by the
        most/least-frequent rank cutoffs."""
        from .internals.chart_specs import tf_adjustment_chart_spec

        rows = [
            r.asDict()
            for r in self.tf_adjustment_chart_data(
                output_column_name,
                n_most_freq=n_most_freq,
                n_least_freq=n_least_freq,
                vals_to_include=vals_to_include,
            ).collect()
        ]
        return tf_adjustment_chart_spec(rows, output_column_name)

    def waterfall_chart(
        self, records, filter_nulls: bool = True, remove_sensitive_data: bool = False
    ):
        """visualisations.py:257 → per-comparison weight contributions for
        each scored record, with a record-selector param (reference
        charts.py WaterfallChart)."""
        from .internals.chart_specs import waterfall_chart_spec

        return waterfall_chart_spec(self.waterfall_data(records))

    def comparison_viewer_dashboard(
        self,
        df_predict: DataFrame,
        out_path: Optional[str] = None,
        overwrite: bool = False,
        num_example_rows: int = 2,
    ) -> DataFrame:
        """visualisations.py:302: the comparison-vector distribution; with
        ``out_path`` also writes a standalone HTML viewer (distribution
        chart + per-pattern example pairs — internals/dashboards.py). The
        distribution DataFrame is returned either way. Collects are bounded:
        the (tiny) grouped distribution + num_example_rows per pattern."""
        dist = self.comparison_vector_distribution(df_predict)
        if out_path:
            import os

            if os.path.isfile(out_path) and not overwrite:
                raise ValueError(
                    f"The path {out_path} already exists. Set overwrite=True "
                    "to overwrite."
                )
            from pyspark.sql.window import Window

            from .internals.dashboards import render_comparison_viewer_html

            narrow = getattr(df_predict, "_splink_narrow", df_predict)
            gamma_cols = [
                c.gamma_column_name for c in self._l.settings.comparisons
            ]
            pat = F.concat_ws(
                ",", *[F.col(g).cast("string") for g in gamma_cols]
            ).alias("__pat")
            w = Window.partitionBy("__pat").orderBy(
                F.desc("match_weight"),
                F.asc(f"{self._l.settings.unique_id_column_name}_l"),
            )
            examples = (
                narrow.select("*", pat)
                .withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") <= num_example_rows)
                .drop("__rn")
                .collect()
            )
            by_pattern: dict[str, list] = {}
            for r in examples:
                d = r.asDict()
                by_pattern.setdefault(d.pop("__pat"), []).append(d)
            render_comparison_viewer_html(
                [r.asDict() for r in dist.collect()],
                by_pattern,
                out_path=out_path,
            )
        return dist

    def cluster_studio_dashboard(
        self,
        df_predict: DataFrame,
        df_clustered: DataFrame,
        out_path: Optional[str] = None,
        sampling_method: str = "random",
        sample_size: int = 10,
        cluster_ids=None,
        cluster_names=None,
        overwrite: bool = False,
    ):
        """visualisations.py:371: the sampled cluster subgraphs; with
        ``out_path`` also writes a standalone HTML cluster studio (cluster
        selector + force-directed node-link view + member table —
        internals/dashboards.py). Returns the (nodes, edges) DataFrames
        either way; the collect is bounded by the cluster sample."""
        nodes, edges = self.cluster_studio_sample(
            df_clustered,
            df_predict,
            sampling_method=sampling_method,
            sample_size=sample_size,
            cluster_ids=cluster_ids,
        )
        if out_path:
            import os

            if os.path.isfile(out_path) and not overwrite:
                raise ValueError(
                    f"The path {out_path} already exists. Set overwrite=True "
                    "to overwrite."
                )
            from .internals.dashboards import render_cluster_studio_html

            render_cluster_studio_html(
                [r.asDict() for r in nodes.collect()],
                [r.asDict() for r in edges.collect()],
                unique_id_column_name=self._l.settings.unique_id_column_name,
                out_path=out_path,
            )
        return nodes, edges


class LinkerBlockingAnalysis:
    """linker_components/blocking_analysis.py."""

    def __init__(self, linker: Linker):
        self._l = linker

    def count_comparisons_from_blocking_rules(
        self, rules=None, record_sample_proportion: float = 1.0
    ) -> list[dict]:
        """Marginal/cumulative comparison counts per rule, one Spark job for
        all rules; ``record_sample_proportion`` < 1 estimates from a
        deterministic record sample (reference blocking_analysis.py:601-677)."""
        s = self._l.settings
        return count_comparisons_per_rule(
            self._l.df_concat(),
            list(rules or s.blocking_rules_to_generate_predictions),
            link_type=s.link_type,
            unique_id_column_name=s.unique_id_column_name,
            source_dataset_column_name=s.source_dataset_column_name
            if s.needs_source_dataset
            else None,
            record_sample_proportion=record_sample_proportion,
        )

    def estimate_comparisons_pre_filter(self, blocking_rule: BlockingRule) -> DataFrame:
        """Pre-filter per-key count products — no blocking join executed
        (reference blocking_analysis.py:78-190)."""
        from .internals.blocking import estimate_comparisons_pre_filter

        s = self._l.settings
        return estimate_comparisons_pre_filter(
            self._l.df_concat(),
            blocking_rule,
            link_type=s.link_type,
            unique_id_column_name=s.unique_id_column_name,
        )

    def n_largest_blocks(self, blocking_rule: BlockingRule, n: int = 5) -> DataFrame:
        """The key VALUES responsible for the largest blocks, pre-filter
        (reference blocking_analysis.py:725-784): (key_0..key_k, count_l,
        count_r, block_count) ordered by block_count desc, limit n."""
        from .internals.blocking import n_largest_blocks

        s = self._l.settings
        return n_largest_blocks(
            self._l.df_concat(),
            blocking_rule,
            link_type=s.link_type,
            unique_id_column_name=s.unique_id_column_name,
            n_largest=n,
        )


def _caller_pairs(df: DataFrame, settings: Settings, match_key: str) -> DataFrame:
    """A caller's ``join_key_l/_r [, source_dataset_l/_r, match_key]`` table
    through ``id_pairs``, whose key check stops a link job's keyless pairs
    fanning out to their namesakes. Its own ``match_key`` wins; any other
    column is carried."""
    keys = {"match_key", "join_key_l", "join_key_r", "source_dataset_l", "source_dataset_r"}
    return id_pairs(
        df,
        settings,
        F.col("match_key") if "match_key" in df.columns else match_key,
        uid=("join_key_l", "join_key_r"),
        carry=[c for c in df.columns if c not in keys],
    )


def _coerce_record_to_schema(rec: dict, schema) -> dict:
    """Cast string record values to the schema's date/timestamp/numeric
    types (ISO formats); unparseable values become NULL, mirroring the
    implicit TRY_CAST the reference's SQL backends apply when registering
    python records against an existing table."""
    import datetime

    out = dict(rec)
    for f in schema.fields:
        v = out.get(f.name)
        if v is None or not isinstance(v, str):
            continue
        t = f.dataType.typeName()
        try:
            if t == "date":
                out[f.name] = datetime.date.fromisoformat(v)
            elif t == "timestamp":
                out[f.name] = datetime.datetime.fromisoformat(
                    v.replace("Z", "+00:00")
                )
            elif t in ("long", "integer", "short", "byte"):
                out[f.name] = int(v)
            elif t in ("double", "float"):
                out[f.name] = float(v)
            elif t == "decimal":
                from decimal import Decimal

                out[f.name] = Decimal(v)
        except (ValueError, ArithmeticError):
            out[f.name] = None
    return out


def _normalise_frames(inp: FrameInput) -> dict[str, DataFrame]:
    def _name(df, default):
        # frames registered through SparkAPI.register carry their
        # dataset_display_name (reference database_api.py:267-303)
        return getattr(df, "_splink_dataset_display_name", None) or default

    if isinstance(inp, DataFrame):
        return {_name(inp, "__input__"): inp}
    if isinstance(inp, Mapping):
        return dict(inp)
    return {_name(df, f"table_{i}"): df for i, df in enumerate(inp)}
