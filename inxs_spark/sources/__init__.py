"""Sources/sinks: session builder, storage helpers, transcript synthesis."""
