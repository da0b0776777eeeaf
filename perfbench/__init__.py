"""Standing benchmark of spark-graft: seeded inputs, three workloads,
end-to-end metrics with tracing off and per-layer metrics with tracing
on.  Entry point: ``python3 perfbench/run.py --help``; design notes in
``perfbench/DESIGN.md``."""
