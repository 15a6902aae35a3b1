"""Repository benchmark: KG ingest, graph reads and near-dup queries on local[N].

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root.
"""
