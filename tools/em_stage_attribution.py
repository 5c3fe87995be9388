"""Stage-level wall-clock attribution for the em_quantify flagship.

VERDICT r10 #1: the flagship's sf10→sf100 slope rose to 5.2×/decade
(682s at 5M docs) while sf1→sf10 was 2.52×, and the obvious suspect
(32 shuffle partitions spilling) was tested at 256 partitions and
DISPROVEN (741s — no better). This tool answers "where do the seconds
go" with PRODUCTION semantics: it mirrors the exact construction of
``queries/genomics_q.em_quantify`` + ``algorithms/quantify.em_loop``
(same functions, same caches, same per-iteration localCheckpoint, and
the iteration count ``em_iterations`` gives production: 1 here, since
every class has one member) but forces each phase at its natural
materialization boundary and records the marginal wall time. The r10 run of this tool (against the
since-retired generic-state construction) produced the attribution
that drove the r11 restructure: with_class_cache 376.6s /
class_counts_cache 245.9s / edges_cache 120.1s / EM loop 49s at sf100
— 87% of the flagship in state build, loop innocent (SURVEY.md §6).
Unlike ``quantify(timers=...)`` it does NOT
checkpoint the edge-sized α between E and M — the loop stays the
production plan, timed only at the boundaries production already
materializes (each iteration ends in an eager localCheckpoint).

Usage:
    python tools/em_stage_attribution.py /tmp/sf10
    python tools/em_stage_attribution.py /tmp/sf100 --iter-detail

``--iter-detail`` additionally decomposes ONE steady-state iteration:
E-step alone (noop force), E+M (noop force), and E+M+checkpoint — the
deltas attribute the iteration's cost to window / groupBy / write.

Prints one JSON line per phase and a final summary JSON.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from rnadam_spark.algorithms.quantify import (
    e_step,
    em_iterations,
    initialize_em,
    m_step,
    normalize_mu,
    join_transcripts,
)
from rnadam_spark.lineage import truncate_lineage
from rnadam_spark.queries.genomics_q import K
from rnadam_spark.session import get_spark
from rnadam_spark.sources.tables import load_table


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    iter_detail = "--iter-detail" in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    spark = get_spark("em-stage-attribution")
    out: dict[str, float] = {}
    t_all = time.perf_counter()

    def phase(name: str, fn):
        t0 = time.perf_counter()
        r = fn()
        out[name] = round(time.perf_counter() - t0, 2)
        print(json.dumps({"phase": name, "sec": out[name]}), flush=True)
        return r

    # ---- state construction: SHARED with the flagship ----
    # genomics_q.em_state is the single source of the fused two-scan
    # build (extracted r11 after this tool twice had to be rewritten in
    # lockstep with the query); each piece is forced at its production
    # materialization boundary so the numbers attribute the plan the
    # flagship actually runs.
    from rnadam_spark.queries.genomics_q import em_state

    docs = load_table(spark, sf_dir, "documents", widen=True)
    # r12: em_state's fused-pandas construction COLLECTS the
    # vocabulary-bounded global counts eagerly inside the constructor
    # (scan 1 runs here), so the constructor call IS the
    # global-counts phase; forcing state["global_counts"] afterwards
    # would re-run the scan and double-charge it.
    state = phase("global_counts_pass", lambda: em_state(docs))
    cc = state["cc"]
    class_counts = state["class_counts"]
    edges = state["edges"]
    transcripts = state["transcripts"]
    phase("cc_cache", lambda: force(cc))
    phase("edges_cache", lambda: force(edges))

    alpha = initialize_em(class_counts, edges)
    mu = m_step(alpha, None, K, None, normalize=False)
    # production checkpoints at the top of each loop pass; INIT's work
    # lands inside iter_1's first checkpoint, so force it here instead
    mu = phase("init_em", lambda: truncate_lineage(mu))

    # production's iteration count: the flagship's 5, or 1 when every
    # class has one member and iteration 1 already sits at the fixed
    # point (quantify.em_iterations)
    iters = phase("fixed_point_probe", lambda: em_iterations(edges, 5))
    for i in range(1, iters + 1):
        def one_iter(mu=mu):
            a = e_step(mu, edges)
            m = m_step(a, None, K, None, normalize=False)
            return truncate_lineage(m)  # eager localCheckpoint

        mu = phase(f"iter_{i}", one_iter)

    if iter_detail:
        # decompose one steady-state iteration from the converged mu
        a = e_step(mu, edges)
        phase("detail_e_only", lambda: force(a))
        a2 = e_step(mu, edges)
        m2 = m_step(a2, None, K, None, normalize=False)
        phase("detail_e_plus_m", lambda: force(m2))
        a3 = e_step(mu, edges)
        m3 = m_step(a3, None, K, None, normalize=False)
        phase("detail_e_m_checkpoint", lambda: truncate_lineage(m3))
        # broadcast-build cost proxy: force a trivial consumer of the
        # broadcast mu join without window/groupBy work
        j = edges.join(F.broadcast(mu.select("t_id", "mu")), "t_id").select("mu")
        phase("detail_bcast_join_only", lambda: force(j))

    mu = normalize_mu(mu)
    result = join_transcripts(transcripts, mu)
    phase("normalize_join_out", lambda: force(result.select("t_id", "abundance")))

    out["total"] = round(time.perf_counter() - t_all, 2)
    counts = {
        "classes_docs_grain": cc.select("doc_id").distinct().count(),
        "classes": cc.count(),
        "edges": edges.count(),
        "mu": mu.count(),
    }
    print(json.dumps({"sf_dir": sf_dir, "phases": out, "rows": counts}), flush=True)


if __name__ == "__main__":
    main()
