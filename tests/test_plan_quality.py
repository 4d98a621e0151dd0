"""Physical-plan quality gates — the 100 TB checklist as assertions.

- the binary pages scan is column-pruned to (url, html) even though
  required-schema pruning stops at mapInPandas (explicit select upstream);
- filters reach the parquet scan (PushedFilters);
- the small dimension side of a join broadcasts;
- the relational tail runs inside WholeStageCodegen;
- no per-row Python in engine code (iterrows/itertuples lint; the
  reference model mirrors the reference's row loops on purpose and is
  exempt);
- worker boot has one seam: only workerboot.py patches ``zipimport``,
  with no daemon module and no sitecustomize;
- driver threads inherit the caller's local properties (job group,
  description) and the scheduler stays FIFO: no pool, no allocation file.
"""

import ast
import os
import re

import pytest

import __spark_entry__ as entrymod
from image_pdf_ocr_suite_spark import ExtractConfig, extract_pages, fixtures

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    rows = [(i, " ".join(f"w{j}" for j in range(10)), "ja") for i in range(30)]
    spark.createDataFrame(fixtures.build_pages_pdf(rows)).write.parquet(path)
    return path


def test_pages_scan_is_column_pruned(spark, pages_parquet):
    """A job that extracts text must not read the text/lang/warc_ts columns;
    only (url, html) may reach the scan."""
    df = spark.read.parquet(pages_parquet)
    res = extract_pages(df, ExtractConfig(), run_id="plan")
    plan = _plan(res.pages)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"url", "html"}, f"scan reads {cols}"


def test_filter_pushdown_reaches_scan(spark):
    df = entrymod.q_conf_threshold_filter(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters:" in plan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(value,50.0\)", plan), plan


def test_join_broadcasts_small_side(spark):
    plan = _plan(entrymod.q_join_agg_segment(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_relational_tail_has_codegen(spark):
    df = entrymod.q_tpch_q1_exactstats(spark, SF_DIR)
    df.collect()  # finalize the AQE plan — codegen shows in the final plan
    plan = _plan(df)
    # "*(n)" prefixes mark WholeStageCodegen spans in the compact plan
    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan


def test_ocr_stage_partitioning_is_explicit(spark, pages_parquet):
    """The exchange feeding the OCR kernel must hash on (url, page) with an
    explicit partition count (AQE must not coalesce the CPU-bound stage),
    taken from the session's shuffle partitions unless the config sets
    one: one kernel task, so one Python runner, per partition."""
    exchange = r"hashpartitioning\(xxhash64\(url#\d+, page#\d+, 42\), (\d+)\)"
    df = spark.read.parquet(pages_parquet)
    plan = _plan(extract_pages(df, ExtractConfig(), run_id="plan").pages)
    m = re.search(exchange, plan)
    assert m, plan
    assert int(m.group(1)) == int(spark.conf.get("spark.sql.shuffle.partitions"))

    plan = _plan(extract_pages(df, ExtractConfig(shuffle_partitions=16),
                               run_id="plan").pages)
    m = re.search(exchange, plan)
    assert m and int(m.group(1)) == 16, plan


# refmodel/goldens mirror the reference's row-at-a-time loops by design:
# they are the single-process oracle side, never engine code
NO_ROW_LOOPS_EXEMPT = {"refmodel.py", "goldens.py"}


def test_no_per_row_python_in_engine():
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "image_pdf_ocr_suite_spark")
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py") or f in NO_ROW_LOOPS_EXEMPT:
                continue
            src = open(os.path.join(dirpath, f)).read()
            for pat in (".iterrows(", ".itertuples(", ".toLocalIterator("):
                if pat in src:
                    offenders.append((f, pat))
    assert not offenders, offenders


def _engine_files():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for top in ("image_pdf_ocr_suite_spark", "jobs"):
        for dirpath, _dirs, files in os.walk(os.path.join(repo, top)):
            for f in files:
                yield os.path.join(dirpath, f)


# an assignment to (or setattr on) anything reached from ``zipimport``
ZIPIMPORT_WRITE = re.compile(
    r"\bzipimport(\.\w+)+\s*(=[^=]|[-+|]=)|\bsetattr\(\s*zipimport\b")


def test_worker_boot_has_one_seam():
    # the zipimporter patch lives in workerboot.py alone, and worker boot
    # is never moved into a daemon module or a sitecustomize (a
    # --py-files submit does not put the package on the daemon's path)
    zip_writers, offenders = set(), []
    for path in _engine_files():
        name = os.path.basename(path)
        if name in ("sitecustomize.py", "usercustomize.py"):
            offenders.append(path)
        if not name.endswith(".py"):
            continue
        src = open(path).read()
        if "spark.python.daemon.module" in src:
            offenders.append(path)
        if ZIPIMPORT_WRITE.search(src):
            zip_writers.add(name)
    assert not offenders, offenders
    assert zip_writers == {"workerboot.py"}, zip_writers


# scheduler settings no engine file may set: concurrent writes share the
# default FIFO scheduler, with no pool to configure or keep in sync
SCHEDULER_KEYS = ("spark.scheduler.mode", "spark.scheduler.pool",
                  "spark.scheduler.allocation.file")


def _callee(func) -> str | None:
    return func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)


def _inherits(node) -> bool:
    # inheritable_thread_target(f) or inheritable_thread_target(spark)(f)
    while isinstance(node, ast.Call):
        if _callee(node.func) == "inheritable_thread_target":
            return True
        node = node.func
    return False


def _unwrapped_thread_targets(src: str) -> list[int]:
    """Lines that hand a thread a target not wrapped in
    ``inheritable_thread_target``: ``Thread(target=...)`` and the
    callable of ``submit``/``map`` on a ``ThreadPoolExecutor``."""
    tree = ast.parse(src)

    def is_executor(node):
        return isinstance(node, ast.Call) and _callee(node.func) == "ThreadPoolExecutor"

    pools = {item.optional_vars.id for node in ast.walk(tree)
             if isinstance(node, ast.With) for item in node.items
             if is_executor(item.context_expr)
             and isinstance(item.optional_vars, ast.Name)}
    pools |= {t.id for node in ast.walk(tree)
              if isinstance(node, ast.Assign) and is_executor(node.value)
              for t in node.targets if isinstance(t, ast.Name)}
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        if _callee(node.func) == "Thread":
            target = next((k.value for k in node.keywords if k.arg == "target"),
                          node.args[1] if len(node.args) > 1 else None)
        elif (_callee(node.func) in ("submit", "map")
              and isinstance(node.func, ast.Attribute)
              and (is_executor(node.func.value)
                   or (isinstance(node.func.value, ast.Name)
                       and node.func.value.id in pools))):
            target = node.args[0] if node.args else None
        else:
            continue
        if not _inherits(target):
            bad.append(node.lineno)
    return sorted(bad)


def test_driver_threads_inherit_local_properties():
    assert _unwrapped_thread_targets(
        "with ThreadPoolExecutor(2) as p:\n    p.submit(f, 1)\n"
        "threading.Thread(target=f).start()\n") == [2, 3]
    assert _unwrapped_thread_targets(
        "with ThreadPoolExecutor(2) as p:\n"
        "    p.submit(inheritable_thread_target(spark)(f), 1)\n"
        "Thread(target=inheritable_thread_target(f)).start()\n") == []
    offenders = []
    for path in _engine_files():
        if not path.endswith(".py"):
            continue
        src = open(path).read()
        offenders += [(path, key) for key in SCHEDULER_KEYS if key in src]
        offenders += [(path, line) for line in _unwrapped_thread_targets(src)]
    assert not offenders, offenders


def test_token_count_bpe_is_map_only(spark):
    plan = _plan(entrymod.q_token_count_bpe(spark, SF_DIR))
    assert "Exchange" not in plan, plan        # pure projection, no shuffle


def test_winnow_single_shuffle(spark):
    # arrow default: per-row dedup inside the kernel + ONE global
    # distinct exchange over the pre-deduped slivers
    plan = _plan(entrymod.q_winnow_fingerprints(spark, SF_DIR))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("MapInPandas") == 1, plan


def test_salted_agg_two_phase_shuffles(spark):
    plan = _plan(entrymod.q_salted_user_stats(spark, SF_DIR))
    assert re.search(r"hashpartitioning\(user_id#\d+L?, __salt", plan), plan
    assert re.search(r"hashpartitioning\(user_id#\d+L?, \d+\)", plan), plan


def test_anti_join_is_hash_join(spark):
    plan = _plan(entrymod.q_anti_join_customers(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "LeftAnti" in plan, plan


def test_near_dup_lsh_id_only_candidate_shuffle(spark):
    """The candidate-dedup exchange must carry only the id pair — vectors
    join back strictly after."""
    plan = _plan(entrymod.q_embedding_near_dup(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    m = re.search(r"Exchange hashpartitioning\(id_a#\d+L, id_b#\d+L", plan)
    assert m, plan


def test_asof_join_single_exchange_no_range_join(spark):
    """The as-of join must be union + window (one exchange on the key,
    one sort), never a range/theta join (no BroadcastNestedLoop or
    CartesianProduct) — the range form explodes on hot keys."""
    plan = _plan(entrymod.q_asof_join_views(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan          # not even an equi-join
    assert plan.count("Window") >= 1
    # exactly one single-key exchange on user_id feeds the window (the
    # two union legs share it); the (user_id, ts) composite exchange is
    # the right-side dedup aggregate, not a second timeline shuffle
    assert len(re.findall(r"hashpartitioning\(user_id#\d+L?, \d+\)", plan)) == 1


def test_chunk_documents_is_map_only(spark):
    """Chunking must be a flatMap on the scan — zero exchanges."""
    plan = _plan(entrymod.q_chunk_documents(spark, SF_DIR))
    assert "Exchange" not in plan


def test_stratified_sample_is_scan_side_predicate(spark):
    plan = _plan(entrymod.q_stratified_sample(spark, SF_DIR))
    assert "Exchange" not in plan


def test_watermark_dedup_single_key_shuffle(spark):
    """Greedy anchor thinning is ONE shuffle on the key + a
    partition-local sort into a partition-level Pandas kernel — not
    per-group applyInPandas (measured ~4 ms/group Arrow slicing), and
    no second exchange."""
    plan = _plan(entrymod.q_watermark_dedup(spark, SF_DIR))
    assert plan.count("Exchange") == 1, plan
    assert "MapInPandas" in plan, plan
    assert re.search(r"Sort \[user_id", plan), plan


def test_bloom_probe_is_broadcast_map_side(spark):
    """The Bloom probe must stay map-side: the bounded bit array ships
    inside the gram kernel, so the probed gram stream never joins or
    shuffles (the only exchanges are the post-flag distinct + final id
    count, carrying the flagged (id, gram) sliver)."""
    plan = _plan(entrymod.q_bloom_decontaminate(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan


def test_semantic_dedup_shuffles_cluster_key_only(spark):
    """SemDeDup's quadratic search must be confined within clusters: no
    cartesian/nested-loop join anywhere — the pair join keys on the
    cluster column."""
    df = entrymod.q_semantic_dedup(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    # ONE cluster-keyed exchange feeding the partition-level kernel
    # (the quadratic search never leaves a cluster)
    assert re.search(r"hashpartitioning\(cluster#\d+", plan), plan
    assert "MapInPandas" in plan, plan


def test_warc_parse_is_map_only(spark):
    """Writer expression + parser kernel: the record walk is a pure
    mapInPandas stage — the only exchange is the blob-grouping
    aggregate upstream of the writer."""
    plan = _plan(entrymod.q_warc_extract(spark, SF_DIR))
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Exchange") <= 2, plan
