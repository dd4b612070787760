#!/bin/bash
set -x
cd /root/repo
sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/sf1 10" > /tmp/r9_scaleup1.log 2>&1
sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/sf2 20" > /tmp/r9_scaleup2.log 2>&1
echo DONE_R9_SETUP
