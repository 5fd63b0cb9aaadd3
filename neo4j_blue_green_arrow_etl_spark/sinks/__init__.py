from .graph_sink import FlightGraphSink, GraphSink

__all__ = ["FlightGraphSink", "GraphSink"]
