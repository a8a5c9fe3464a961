"""Standalone BASELINE.json-stated pairing: local[8] vs local[32].

The full bench budget-gates this pairing last, so on a window where the
full-scale (100k-page) 4->16 legs consume the budget it is skipped.  This
tool runs ONLY the 8->32 pairing (same run_kg code path as bench.py) plus
its pure-CPU ceiling, and prints one JSON line — so a
clean window can still produce the north rule's stated two-parallelism
measurement without re-running the whole bench.

Usage: python tools/pairing_8_32.py [pages]   (default 25000)
"""
import json
import sys
import time

sys.path.insert(0, ".")

from bench import cpu_ceiling, run_kg  # noqa: E402


def main():
    pages = int(sys.argv[1]) if len(sys.argv) > 1 else 25000
    t0 = time.time()
    t_n8, n8_stages = run_kg("local[8]", 24, pages, dedupe=False)
    t_n32, n32_stages = run_kg("local[32]", 96, pages, dedupe=False)
    eff = (t_n8 / t_n32) / 4.0
    ceiling = cpu_ceiling(8, 32) / 4.0
    print(
        json.dumps(
            {
                "pages": pages,
                "wall_n8_s": round(t_n8, 2),
                "wall_n32_s": round(t_n32, 2),
                "docs_per_sec_n8": round(pages / t_n8, 2),
                "docs_per_sec_n32": round(pages / t_n32, 2),
                "scaling_efficiency_8_32": round(eff, 3),
                "host_cpu_ceiling_efficiency_8_32": round(ceiling, 3),
                "scaling_efficiency_8_32_vs_ceiling": round(eff / ceiling, 3),
                "stage_timings_n8": n8_stages,
                "stage_timings_n32": n32_stages,
                "tool_wall_s": round(time.time() - t0, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
