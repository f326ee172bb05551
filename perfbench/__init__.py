"""Repository benchmark: the deploy-path dedup pipeline and the document
dedup operators, with an optional traced per-layer run.  Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root (see perfbench/README.md)."""
