"""Plan audits: pin the single-Arrow-eval property of UDF-bearing operators,
and the frontier plan shapes the crawl wave relies on.

Catalyst evaluates a Python UDF once per referencing operator: a Filter
directly over a UDF Project (including plain explode's implicit non-empty
guard) runs the UDF for the predicate AND the projection, and fan-out
consumers each re-run it because per-consumer column pruning makes the
subtrees canonically distinct (ReusedExchange never fires). Round 5 fixed
every such site with pre-explode checkpoints / explode_outer / post-shuffle
filters; these tests pin the executed plans so the bug class cannot return
silently — a correctness-preserving refactor that reintroduces a duplicate
eval flips a count here, not a benchmark three rounds later.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _arrow_evals(df) -> list[str]:
    """UDF names of the ArrowEvalPython nodes in the EXECUTED plan (the
    frame must have been materialized — lazy checkpoints hide their UDFs
    only after they actually ran)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"ArrowEvalPython \[(?:pyUDF: )?([a-zA-Z_0-9]+)\(", plan)


def _arrow_udf_calls(df) -> list[list[tuple[str, str, str]]]:
    """Per ArrowEvalPython node of the EXECUTED plan, its UDF calls as
    (name, argument text, result id): the same call in two nodes is one
    UDF evaluated twice."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = []
    for m in re.finditer(r"ArrowEvalPython \[", plan):
        calls, depth, start, i = [], 0, m.end(), m.end()
        while depth or plan[i] != "]":
            if plan[i] == "(":
                depth += 1
            elif plan[i] == ")":
                depth -= 1
            elif plan[i] == "," and not depth:
                calls.append(plan[start:i].strip())
                start = i + 1
            i += 1
        calls.append(plan[start:i].strip())
        nodes.append([
            re.fullmatch(r"(?:pyUDF: )?(\w+)\((.*)\)#(\d+)", c, re.S).groups()
            for c in calls
        ])
    return nodes


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"alpha beta gamma delta epsilon doc {i % 7} " * 4, "en")
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def embeddings(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(32)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


class TestSketchPlansSingleEval:
    def test_minhash_candidates_zero_residual_evals(self, docs):
        from warc2zim_spark.operators.dedup import minhash_candidates

        df = minhash_candidates(docs)
        df.count()
        # the one signature pass lives inside the pre-explode checkpoint;
        # the final plan over the materialized RDD carries no Python evals
        assert _arrow_evals(df) == []

    def test_minhash_pairs_zero_residual_evals(self, docs):
        from warc2zim_spark.operators.dedup import minhash_near_duplicates

        df = minhash_near_duplicates(docs)
        df.count()
        assert _arrow_evals(df) == []

    def test_ngram_pairs_zero_residual_evals(self, docs):
        from warc2zim_spark.operators.dedup import ngram_jaccard_pairs

        df = ngram_jaccard_pairs(docs)
        df.count()
        assert _arrow_evals(df) == []

    def test_simhash_pairs_zero_residual_evals(self, docs):
        from warc2zim_spark.operators.dedup import simhash_near_duplicates

        df = simhash_near_duplicates(docs)
        df.count()
        assert _arrow_evals(df) == []

    def test_fingerprints_single_eval(self, docs):
        from warc2zim_spark.operators.textops import fingerprints

        df = fingerprints(docs)
        df.count()
        assert _arrow_evals(df).count("fingerprint") == 1

    def test_lsh_topk_one_signature_pass_per_side(self, embeddings):
        from warc2zim_spark.operators.similarity import lsh_topk

        queries = embeddings.filter(F.col("vec_id") < 4)
        df = lsh_topk(embeddings, queries, k=3, dim=8)
        df.count()
        sigs = [e for e in _arrow_evals(df) if e == "sigs"]
        # corpus side + query side — and nothing more (plain posexplode's
        # implicit guard used to double each side)
        assert len(sigs) == 2


class TestFrontierPlanSingleEval:
    def test_wave_links_single_parse_and_resolve(self, spark):
        from warc2zim_spark.frontier.crawl import crawl_wave

        pages = spark.createDataFrame(
            [
                ("https://a.example/p1", "<html><a href='/p2'>x</a></html>"),
                ("https://a.example/p2", "<html></html>"),
            ],
            "url string, html string",
        ).withColumn("html", F.col("html").cast("binary"))
        seeds = spark.createDataFrame(
            [("https://a.example/p1", 0, 1.0)], "url string, hops int, score double"
        )
        from warc2zim_spark.frontier.crawl import _normalize_cols, _valid

        robots = spark.createDataFrame(
            [], "host string, rule_type string, path_prefix string, crawl_delay_ms int"
        )
        # mirror run_crawl's materialization: frontier checkpointed per wave,
        # page_lookup cached once per crawl — so the only live UDFs in the
        # next-frontier plan are the link-extraction chain itself
        from warc2zim_spark.frontier.crawl import page_lookup

        frontier = _normalize_cols(seeds).localCheckpoint(eager=True).filter(_valid())
        pages_keyed = page_lookup(pages).cache()
        pages_keyed.count()
        seen = spark.createDataFrame([], "surt_key string")
        waves = []
        schedule_plans = _executed_plans(spark, lambda: waves.append(crawl_wave(
            frontier, seen, pages, robots, pages_keyed=pages_keyed,
        )))
        # the schedule's eager checkpoint ran inside the call: its dedup
        # carries each url's host through the aggregate, so no host_of
        # runs in the schedule plan
        assert schedule_plans and not any(
            "host_of" in p for p in schedule_plans
        ), schedule_plans
        scheduled, nxt = waves[0]
        nxt.count()
        evals = _arrow_evals(nxt)
        # r06: the whole link chain (decode + HTML parse + resolve + surt +
        # host) is ONE fused Arrow stage — exactly one extract_wave_links
        # eval, and none of the former per-stage UDFs may reappear (their
        # return would mean the exploded link frame round-trips through
        # Python again)
        assert evals.count("extract_wave_links") == 1, evals
        for name in ("extract_meta", "resolve_url", "decode_payload"):
            assert evals.count(name) == 0, (name, evals)
        # surt_key lives only inside the cached page_lookup build, whose
        # subtree the plan toString prints (not a live eval); the wave
        # dedup runs no host_of, so none reaches the link plan either
        assert evals.count("surt_key") <= 2, evals
        assert evals.count("host_of") == 0, evals
        pages_keyed.unpersist()

    def test_content_records_one_surt_eval_per_url(self, spark):
        """content_records canonicalizes the record URL exactly once, before
        the pairing shuffle, and evaluates each UDF call in one
        ArrowEvalPython node: two nodes, one each side of the shuffle.
        ``zim_path`` is a JVM pick of the pre-shuffle keys, so its null
        filter re-runs nothing (SURVEY §4.2). A second surt_key evaluation
        holds a second Python worker per task, whatever the kernel costs."""
        from warc2zim_spark.operators.records import content_records

        records = spark.createDataFrame(
            [
                (0, 0, "response", "https://a.example/p1", 200, "text/html",
                 None, None, None, None, None, None, None, None, 10),
            ],
            "file_seq int, rec_seq long, rec_type string, url string, "
            "status int, mime string, record_id string, concurrent_to string, "
            "http_location string, refers_to_url string, "
            "req_method string, req_mime string, req_body binary, "
            "req_content_length long, payload_len long",
        )
        df = content_records(records)
        df.count()
        nodes = _arrow_udf_calls(df)
        calls = [c for node in nodes for c in node]
        ids = [result_id for _, _, result_id in calls]
        assert len(ids) == len(set(ids)), nodes  # each call in one node
        surt_args = [args for name, args, _ in calls if name == "surt_key"]
        assert sum(bool(re.search(r"\burl#", a)) for a in surt_args) == 1, nodes
        assert not any("effective_url#" in a for a in surt_args), nodes
        assert len(nodes) == 2, nodes  # one each side of the pairing shuffle

    def test_rewrite_distributed_single_eval_per_stage(self, spark):
        """rewritten_pages_distributed (the 10^10-path rewrite shape): the
        extract UDF and the rewrite UDF each run once; decode_payload runs
        once per page PASS (extract + rewrite = 2) — the two passes are the
        design (decide on narrow key rows, touch html only in its own scan
        stage), not a duplicate-eval bug."""
        from warc2zim_spark.operators.rewrite import rewritten_pages_distributed

        pages = spark.createDataFrame(
            [
                ("https://a.example/p1", b"<html><a href='/p2'>x</a></html>"),
                ("https://a.example/p2", b"<html></html>"),
            ],
            "url string, html binary",
        )
        seen = spark.createDataFrame([("a.example/p2",)], "zim_path string")
        df = rewritten_pages_distributed(pages, seen, mode="exact")
        df.count()
        evals = _arrow_evals(df)
        assert evals.count("extract_link_targets") == 1, evals
        assert evals.count("_rewrite_with_row_seen") == 1, evals
        assert evals.count("decode_payload") <= 2, evals

    def test_js_modules_single_parse(self, spark):
        from warc2zim_spark.operators.rewrite import js_module_paths

        pages = spark.createDataFrame(
            [
                ("https://a.example/p1", "<html><script type='module' src='/m.js'></script></html>"),
                ("https://a.example/p2", "<html></html>"),
            ],
            "url string, html string",
        ).withColumn("html", F.col("html").cast("binary"))
        df = js_module_paths(pages)
        df.count()
        evals = _arrow_evals(df)
        assert evals.count("extract_meta") <= 1, evals


def _plan_nodes(df) -> list[tuple[int, str]]:
    """(depth, node text) per line of the physical plan, before execution."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = []
    for line in plan.splitlines():
        m = re.search(r"[A-Za-z]", line)
        if m:
            nodes.append((m.start(), line[m.start():]))
    return nodes


def _ancestors(nodes, i) -> list[str]:
    """Node texts above ``nodes[i]``, nearest first."""
    out, depth = [], nodes[i][0]
    for d, text in reversed(nodes[:i]):
        if d < depth:
            out.append(text)
            depth = d
    return out


def _executions(spark, fn) -> list:
    """The SQL executions ``fn()`` started, on any thread, eager checkpoints
    included (Spark's SQL status store)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        listed = store.executionsList()
        return [listed.apply(i) for i in range(listed.size())]

    before = max((e.executionId() for e in executions()), default=-1)
    fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return [e for e in executions() if e.executionId() > before]


def _executed_plans(spark, fn) -> list[str]:
    """Formatted physical plans of the SQL executions ``fn()`` started."""
    return [e.physicalPlanDescription() for e in _executions(spark, fn)]


def _plan_graph(spark, execution) -> tuple[dict, dict, dict]:
    """An execution's final physical plan as the SQL UI draws it → (node
    names, children, parents) by node id. A cache scan's children are the
    cached relation's build plan."""
    graph = spark._jsparkSession.sharedState().statusStore().planGraph(
        execution.executionId()
    )

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    names = {n.id(): n.name() for n in seq(graph.allNodes())}
    children, parents = {}, {}
    for edge in seq(graph.edges()):  # child → parent
        children.setdefault(edge.toId(), []).append(edge.fromId())
        parents.setdefault(edge.fromId(), []).append(edge.toId())
    return names, children, parents


def _reaches(start, links, names, target, barrier=lambda name: False) -> bool:
    """Whether a node named ``target`` is reachable from ``start`` along
    ``links`` without passing through a node ``barrier`` accepts."""
    stack = list(links.get(start, []))
    while stack:
        node = stack.pop()
        if names[node] == target:
            return True
        if not barrier(names[node]):
            stack.extend(links.get(node, []))
    return False


def _scan_ancestors(plan: str, location: str) -> list[list[str]]:
    """Per file scan whose location contains ``location``, in a formatted
    physical plan (AQE's final plan, when adaptive), the node names above
    it, nearest first (a join's name keeps its type and build side)."""
    tree, _, details = plan.partition("\n\n\n")
    tree = tree.split("== Initial Plan ==")[0]
    scans = set(re.findall(
        r"^\((\d+)\) Scan [^\n]*\n(?:[^\n]+\n)*?Location: [^\n]*" + re.escape(location),
        details, re.M,
    ))
    nodes, ids = [], []
    for line in tree.splitlines():
        m = re.search(r"([A-Z][A-Za-z]*(?: [A-Za-z]+)*) +\((\d+)\)", line)
        if m:
            nodes.append((m.start(1), m.group(1)))
            ids.append(m.group(2))
    return [_ancestors(nodes, i) for i, n in enumerate(ids) if n in scans]


def _exchange_over_scan(plan: str, location: str) -> bool:
    """Whether a formatted physical plan has an ``Exchange`` above a file
    scan whose location contains ``location``."""
    return any("Exchange" in above for above in _scan_ancestors(plan, location))


class TestFrontierPlanShapes:
    """The crawl wave has one politeness path, one top-k path and one exact
    seen probe; hot-host skew is absorbed by Spark's own plan rules. These
    pins fail if a Spark upgrade or a rewrite loses one of those shapes."""

    @pytest.fixture(scope="class")
    def cands(self, spark):
        # 30 rows on one hot host plus a tail: the skew shape politeness caps
        rows = [(f"hot.example/p{i}", "hot.example", i % 3, i / 30.0) for i in range(30)]
        rows += [(f"t{i}.example/p", f"t{i}.example", 0, 0.5) for i in range(10)]
        return spark.createDataFrame(
            rows, "surt_key string, host string, hops int, score double"
        )

    @pytest.fixture(scope="class")
    def robots(self, spark):
        return spark.createDataFrame(
            [("hot.example", "disallow", "/p1", 2000)],
            "host string, rule_type string, path_prefix string, crawl_delay_ms int",
        )

    def test_politeness_partial_limit_below_host_exchange(self, cands, robots):
        from warc2zim_spark.frontier.politeness import politeness_budget

        nodes = _plan_nodes(politeness_budget(cands, robots, host_budget=4))
        partial = [
            i for i, (_, t) in enumerate(nodes)
            if t.startswith("WindowGroupLimit") and t.endswith("Partial")
        ]
        assert len(partial) == 1, nodes
        exchange = next(
            t for t in _ancestors(nodes, partial[0]) if t.startswith("Exchange")
        )
        assert exchange.startswith("Exchange hashpartitioning(host#"), exchange
        # Spark infers the limit only up to windowGroupLimitThreshold (1000)
        over = _plan_nodes(politeness_budget(cands, robots, host_budget=1001))
        assert not any(t.startswith("WindowGroupLimit") for _, t in over)

    def test_prioritize_take_ordered_no_window(self, cands):
        from warc2zim_spark.frontier.politeness import prioritize

        nodes = [t for _, t in _plan_nodes(prioritize(cands, wave_budget=7))]
        assert any(t.startswith("TakeOrderedAndProject") for t in nodes), nodes
        assert not any(t.startswith("Window") for t in nodes), nodes

    def test_exact_seen_broadcast_left_anti(self, spark, cands):
        from warc2zim_spark.frontier.seenfilter import unseen_exact

        seen = spark.createDataFrame([("hot.example/p0",)], "surt_key string")
        nodes = [t for _, t in _plan_nodes(unseen_exact(cands, F.broadcast(seen)))]
        assert any(
            t.startswith("BroadcastHashJoin") and "LeftAnti" in t for t in nodes
        ), nodes

    def test_robots_no_window_no_candidate_exchange(self, cands, robots):
        from warc2zim_spark.frontier.politeness import robots_allowed

        nodes = _plan_nodes(robots_allowed(cands, robots))
        assert not any(t.startswith("Window") for _, t in nodes), nodes
        # the only shuffle is the rules aggregation under the broadcast
        exchanges = [i for i, (_, t) in enumerate(nodes) if t.startswith("Exchange")]
        assert exchanges, nodes
        for i in exchanges:
            assert any(
                t.startswith("BroadcastExchange") for t in _ancestors(nodes, i)
            ), nodes[i]

    @pytest.mark.parametrize("wave_budget", [3_000, 100_000])
    def test_fetch_broadcasts_hit_set_not_pages(self, spark, webdata, wave_budget):
        """At the budgets in use (perfbench 3,000, bench.py's heavy frontier
        100,000) the checkpointed schedule's byte estimate is within
        autoBroadcastJoinThreshold, so the fetch hints the hit set: it is
        the broadcast side, and the page scan, which carries the html, sits
        under no broadcast. (The hint is checked as such: on this small page
        table Spark's own size rule may pick the same side without it.)"""
        from warc2zim_spark.frontier.crawl import (
            _normalize_cols, _valid, page_lookup, schedule_wave, wave_links,
        )
        from warc2zim_spark.functions.expressions import literal_frame

        read = spark.read.parquet
        pages = read(f"{webdata}/pages.parquet")
        frontier = _normalize_cols(read(f"{webdata}/seeds.parquet"))
        scheduled = schedule_wave(
            frontier.localCheckpoint(eager=True).filter(_valid()),
            literal_frame(spark, [], "surt_key string"),
            read(f"{webdata}/robots.parquet"),
            host_budget=4, wave_budget=wave_budget,
        ).localCheckpoint(eager=True)
        fetched = wave_links(scheduled, pages, page_lookup(pages))
        analyzed = fetched._jdf.queryExecution().analyzed().toString()
        assert "strategy=broadcast" in analyzed, analyzed
        nodes = _plan_nodes(fetched)
        # the leaves this plan runs: a cached table's build plan, printed
        # under its InMemoryRelation, is not one of them
        live = [
            i for i in range(len(nodes))
            if not any(t.startswith("InMemoryRelation") for t in _ancestors(nodes, i))
        ]
        schedule_scans = [i for i in live if nodes[i][1].startswith("Scan ExistingRDD")]
        html_scans = [
            i for i in live
            if nodes[i][1].startswith(("FileScan", "InMemoryTableScan"))
            and "html#" in nodes[i][1].split("]")[0]
        ]
        assert len(schedule_scans) == 1 and len(html_scans) == 1, nodes
        assert any(
            t.startswith("BroadcastExchange")
            for t in _ancestors(nodes, schedule_scans[0])
        ), nodes
        assert not any(
            t.startswith("BroadcastExchange")
            for t in _ancestors(nodes, html_scans[0])
        ), nodes

    def test_exact_seen_probe_broadcast_by_threshold(self, spark, webdata, tmp_path):
        """A 2-wave exact crawl's second seen probe (the first is pruned: its
        seen set is empty) is a BroadcastHashJoin LeftAnti that builds the
        waves scan, by the byte threshold alone: with the threshold
        disabled, the waves scan is broadcast nowhere, so no hint forces it."""
        from warc2zim_spark.frontier.crawl import run_crawl

        read = spark.read.parquet

        def seen_join(label):
            """(the nodes between the wave-0 scan and its nearest join, that
            join) over the crawl's executed plans."""
            plans = _executed_plans(spark, lambda: run_crawl(
                spark, read(f"{webdata}/seeds.parquet"),
                read(f"{webdata}/pages.parquet"),
                read(f"{webdata}/robots.parquet"), str(tmp_path / label),
                max_waves=2, host_budget=4, wave_budget=50,
            ))
            probes = [a for p in plans for a in _scan_ancestors(p, f"{label}/wave=0")]
            assert len(probes) == 1, probes
            join = next(i for i, t in enumerate(probes[0]) if "Join" in t)
            return probes[0][:join], probes[0][join]

        between, join = seen_join("default")
        assert join == "BroadcastHashJoin LeftAnti BuildRight", join
        assert "BroadcastExchange" in between, between
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            between, join = seen_join("disabled")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert join == "SortMergeJoin LeftAnti", join
        assert "BroadcastExchange" not in between, between

    def test_crawl_waves_no_exchange_over_robots(self, spark, webdata, tmp_path):
        """Robots is aggregated once per crawl: of a 2-wave crawl's executed
        plans, only the per-crawl policy build has an Exchange over the
        robots scan — each wave broadcasts projections of the checkpointed
        policy table instead of re-aggregating robots."""
        from warc2zim_spark.frontier.crawl import run_crawl

        read = spark.read.parquet
        plans = _executed_plans(spark, lambda: run_crawl(
            spark, read(f"{webdata}/seeds.parquet"), read(f"{webdata}/pages.parquet"),
            read(f"{webdata}/robots.parquet"), str(tmp_path / "crawl"),
            max_waves=2, host_budget=4, wave_budget=50,
        ))
        over_robots = [p for p in plans if _exchange_over_scan(p, "robots.parquet")]
        assert len(over_robots) == 1, len(over_robots)
        assert "pages.parquet" not in over_robots[0]
        # the wave plans (schedule and frontier checkpoints) did run
        assert sum("pages.parquet" in p for p in plans) >= 2


class TestDriversBuildNoListFrames:
    """Python workers run kernels only: neither driver builds a frame from
    a Python list (``createDataFrame``, whose reads run Python tasks);
    driver-side rows are JVM literal frames. The method is patched on the
    class for the duration of the call, so the branch threads are covered."""

    @staticmethod
    def _refuse(*args, **kwargs):
        raise AssertionError("createDataFrame on a driver path")

    @pytest.mark.parametrize("seen_mode", ["exact", "bloom"])
    def test_run_crawl(self, spark, webdata, tmp_path, monkeypatch, seen_mode):
        from pyspark.sql import SparkSession

        from warc2zim_spark.frontier.crawl import run_crawl

        read = spark.read.parquet
        tables = [read(f"{webdata}/{t}.parquet") for t in ("seeds", "pages", "robots")]
        with monkeypatch.context() as m:
            m.setattr(SparkSession, "createDataFrame", self._refuse)
            schedule = run_crawl(
                spark, *tables, str(tmp_path / "crawl"), max_waves=3,
                host_budget=4, wave_budget=50, seen_mode=seen_mode,
            )
        assert schedule.count() > 0

    @pytest.mark.parametrize(
        "option", ["default", "main_url", "favicon_url", "custom_css"]
    )
    def test_run_pipeline(self, spark, webdata, tmp_path, monkeypatch, option):
        from pyspark.sql import SparkSession

        from warc2zim_spark.plans.pipeline import run_pipeline

        kwargs = {
            "main_url": {"main_url": "https://redir.example/main-start"},
            "favicon_url": {"favicon_url": "https://site3.example/alt.ico"},
            "custom_css": {"custom_css": b"body{}"},
        }.get(option, {})
        with monkeypatch.context() as m:
            m.setattr(SparkSession, "createDataFrame", self._refuse)
            metrics = run_pipeline(
                spark, webdata, str(tmp_path / "out"), name="n",
                continue_on_error=True, **kwargs,
            )
        assert metrics["items"] > 0


class TestConvertPythonNodes:
    """Python workers run kernels only, once per record: each
    ArrowEvalPython node holds one worker per task, so a stage that chains
    two holds two (a filter over a UDF column re-runs the UDF in a second
    node, SURVEY §4.2). Every plan of a ``run_pipeline`` call is checked,
    the branch threads' included."""

    def test_run_pipeline_one_python_node_per_stage(self, spark, webdata, tmp_path):
        self._assert_one_python_node_per_stage(spark, webdata, tmp_path)

    @pytest.mark.parametrize("option", ["charsets_to_try", "header_bytes"])
    def test_narrowed_decode_one_python_node_per_stage(
        self, spark, webdata, tmp_path, option
    ):
        """A decode config fallible past the 1-KiB head probes the full
        payload in the same record pass: its fails sink is a filter of the
        cached stream, so the probe runs once, in no chained node."""
        from warc2zim_spark.kernels.decode import DecodeOptions

        self._assert_one_python_node_per_stage(
            spark, webdata, tmp_path,
            decode_options={
                "charsets_to_try": DecodeOptions(charsets_to_try=("utf-8", "ascii")),
                "header_bytes": DecodeOptions(header_bytes=4096),
            }[option],
        )

    @staticmethod
    def _assert_one_python_node_per_stage(spark, webdata, tmp_path, **kwargs):
        from warc2zim_spark.plans.pipeline import run_pipeline

        executions = _executions(spark, lambda: run_pipeline(
            spark, webdata, str(tmp_path / "out"), name="n",
            continue_on_error=True, **kwargs,
        ))

        def stage_boundary(name):
            return "Exchange" in name or name == "InMemoryTableScan"

        sinks = {}
        for e in executions:
            names, children, parents = _plan_graph(spark, e)
            python = [n for n, name in names.items() if name == "ArrowEvalPython"]
            chained = [
                n for n in python
                if _reaches(n, children, names, "ArrowEvalPython", stage_boundary)
            ]
            assert not chained, e.physicalPlanDescription()
            m = re.search(
                r"^Arguments: file:\S*/(\w+), false, Parquet",
                e.physicalPlanDescription(), re.M,
            )
            if m:
                sinks[m.group(1)] = (names, children, parents, python)
        assert {"redirects", "expected", "aliases"} <= set(sinks), sorted(sinks)
        for sink in ("redirects", "expected", "aliases"):
            names, children, parents, python = sinks[sink]
            # any Python node in these plans is the record pass: inside the
            # cached content stream's build, reading no cache itself
            for n in python:
                assert _reaches(n, parents, names, "InMemoryTableScan"), sink
                assert not _reaches(n, children, names, "InMemoryTableScan"), sink


    @pytest.mark.parametrize("charsets", [None, ("utf-8", "ascii")])
    def test_standalone_probe_one_decode_eval(self, spark, webdata, charsets):
        """``quarantined_records`` (the ``w_fails`` query) filters a probe
        that no cache sits under: its ``reason IS NOT NULL`` filter stays
        above the probe's Project, so ``decode_error`` runs once, in one of
        the two record-pass nodes. Pushed below it, the filter ran the UDF
        a second time (2 calls in 3 nodes)."""
        from warc2zim_spark.kernels.decode import DecodeOptions
        from warc2zim_spark.operators.quarantine import quarantined_records
        from warc2zim_spark.operators.records import content_records

        content = content_records(
            spark.read.parquet(f"{webdata}/warc_records.parquet"),
            with_payload=True,
        )
        df = quarantined_records(
            content,
            decode_options=DecodeOptions(charsets_to_try=charsets) if charsets else None,
        )
        df.count()
        nodes = _arrow_udf_calls(df)
        calls = [name for node in nodes for name, _, _ in node]
        assert calls.count("decode_error") == 1, nodes
        assert len(nodes) == 2, nodes
