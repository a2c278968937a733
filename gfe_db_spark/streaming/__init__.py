"""The GFE release loop (`incremental.py`, ST1-ST6): detect new IMGT/HLA
releases, then parse, build and load each one in order, with the graph
manifest as the watermark."""
